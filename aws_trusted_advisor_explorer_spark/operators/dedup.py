"""Deduplication operators over ``documents`` / ``embeddings``
(extension scope per BASELINE.json): exact, MinHash+LSH, SimHash,
n-gram Jaccard, and embedding-cosine near-dup.

All dual-dialect SQL (functions/dual.py) — the Spark plan and the
DuckDB oracle are the same template, and every hash is the
cross-engine polynomial hash, so candidate sets match bit-for-bit.

Scale posture (100 TB): the only quadratic danger is pair generation.
- exact dedup: hash-shuffle on md5(text) — linear, and the exchange
  never carries the document text (key and payload are both small).
- MinHash: explode shingles (shuffle by doc), 16-perm signature in ONE
  groupBy (map-side partial agg), then the band equi-join — the LSH
  trick that replaces the O(n^2) all-pairs join; Jaccard is verified
  only on candidates.
- SimHash: one groupBy for the 32-bit signature, byte-band equi-join
  (4 bands) as the candidate filter, popcount verify.
- n-gram Jaccard: exact variant joins on shared shingles — correct but
  shuffle-heavy at scale; keep for oracle truth, use MinHash at 100 TB.
- embedding cosine: blocks on the ``label`` column (at scale: a coarse
  KMeans/LSH bucket id) before the pairwise cosine.
"""

from __future__ import annotations

from aws_trusted_advisor_explorer_spark.functions.dual import (
    Dialect, P_MOD, minhash_params,
)
from aws_trusted_advisor_explorer_spark.session import (
    materialize_plane_df, session_plane,
)

N_PERM = 16
N_BANDS = 4  # 4 rows per band
# poly_hash values are < 1e9+7 (~30 bits), so the signature can only use
# the low bits — 28 bits, 4 bands of 7 (any hamming<=3 pair shares >=1 band)
SIMHASH_BITS = 28
SIMHASH_BAND_BITS = 7
SIMHASH_MAX_HAMMING = 3
JACCARD_THRESHOLD = 0.5
COSINE_DUP_THRESHOLD = 0.4
# stop-shingle guard for the exact shared-shingle self-join: a shingle
# present in k docs emits O(k^2) candidate rows, so boilerplate shared
# by ~every doc is a job-killer. Shingles with document frequency above
# this cap carry no dedup signal and are dropped BEFORE the self-join;
# Jaccard is defined over the surviving (informative) shingles. Part of
# the operator's semantics — the DuckDB oracle applies the same cap.
NGRAM_DF_CAP = 64
# hot-band guard for the LSH candidate self-join: a band bucket holding
# k docs emits k*(k-1)/2 pairwise candidates, so one boilerplate bucket
# with 1M members is a job-killer (the skew AQE can split but not
# shrink). Buckets larger than this cap switch to STAR candidates —
# every member paired with the bucket's min doc_id — which is O(k) and
# preserves the connected components dedup_clusters builds from these
# pairs (all members stay reachable through the hub; hub pairs of a
# genuinely-near-dup bucket pass the Jaccard verify). Individual
# non-hub pairs inside an over-cap bucket are reported only if another
# (small) band also catches them — documented recall trade, mirrored in
# the DuckDB oracle (same template).
BAND_CAP = 32


def shingle_hash_sql(d: Dialect) -> str:
    """Non-distinct (doc_id, hv): one row per 3-gram shingle occurrence.
    This is the expensive prefix shared by MinHash / n-gram-Jaccard /
    SimHash — the explode plus the per-shingle polynomial hash (a
    char-fold, interpreted per row, NOT whole-stage-codegen'd). At
    scale it is materialized ONCE per dataset (ensure_shingle_view)
    instead of re-evaluated by every inlined CTE reference."""
    toks = d.tokens("text")
    shingles = d.shingles("toks", 3)
    return f"""WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
e AS (SELECT doc_id, {d.explode(shingles)} AS shingle FROM t)
SELECT doc_id, {d.poly_hash('shingle')} AS hv FROM e"""


SHINGLE_VIEW = "__doc_shingle_hv"
SHINGLE_DISTINCT_VIEW = "__doc_shingle_hv_distinct"
SHINGLE_CAPPED_VIEW = "__doc_shingle_hv_capped"


def _tokenize_batch(texts):
    """The SQL ``tokens()`` (lower + ``[a-z0-9]+``) replayed in Python
    for the Arrow kernels; NULL/non-string → zero tokens (the SQL
    NULL-propagation outcome: no rows)."""
    import re

    tok_re = re.compile(r"[a-z0-9]+")
    return [tok_re.findall(t.lower()) if isinstance(t, str) else []
            for t in texts]


def _token_fold_AB(flat):
    """Per-token char-fold state for the modular affine identity the
    Arrow kernels use: for token t, ``A = 31^len(t) mod P`` and
    ``B = fold0(t)`` (the char fold started at 0), so folding t onto
    hash state h is ``(h*A + B) mod P`` and the full
    ``poly_hash(t)`` is ``(HASH_INIT*A + B) mod P``. Vectorized over a
    padded codepoint matrix; all intermediates < P² < 2^63 — exact."""
    import numpy as np

    from aws_trusted_advisor_explorer_spark.functions.dual import (
        HASH_MULT, P_MOD,
    )

    lens = np.array([len(t) for t in flat], dtype=np.int64)
    mx = int(lens.max())
    # tokens come from the ``[a-z0-9]+`` tokenizer, so they are ASCII
    # by construction and byte value == ord == the SQL ascii()
    # codepoint; one frombuffer replaces the r12 per-token Python ord
    # loop (the padded-matrix build was the fold's hot Python path —
    # r13, guide §4.2). A non-ASCII token would mean tokenizer drift:
    # encode("ascii") raises loudly instead of hashing wrong bytes.
    codes = np.frombuffer("".join(flat).encode("ascii"),
                          dtype=np.uint8).astype(np.int64)
    offs = np.zeros(len(flat), dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    # A = 31^len mod P via a power table (loop body halves)
    pw = np.ones(mx + 1, dtype=np.int64)
    for j in range(1, mx + 1):
        pw[j] = (pw[j - 1] * HASH_MULT) % P_MOD
    A = pw[lens]
    B = np.zeros(len(flat), dtype=np.int64)
    for j in range(mx):
        live = np.flatnonzero(j < lens)
        B[live] = (B[live] * HASH_MULT + codes[offs[live] + j]) % P_MOD
    return A, B


def make_gram_hv_kernel(k: int, with_pos: bool = True):
    """Arrow-kernel twin factory for ``shingle_hvs(toks, k)`` +
    posexplode (r12, the _shingle_hash_kernel discipline): emits the
    same (doc_id[, pos], hv) rows — per-token poly hashes
    (``(HASH_INIT*A + B) mod P``, char-folded once, vectorized)
    combined over each k-token window with the SQL's exact rule
    ``h -> (h*SHINGLE_MULT + ht) mod P`` from HASH_INIT. Docs with
    fewer than k tokens emit nothing (the SQL's empty-array guard).
    The fused gram-fold plane computes these streams; this
    per-width form is the reference its streams are pinned against
    (test_gram_fold_kernel_matches_per_plane_kernels), and it is
    pinned to the SQL by test_span_kernel_matches_sql /
    test_contam_plane_matches_sql."""
    if k < 2:
        # the window-start slice tok_doc[:-(k-1)] is the EMPTY slice at
        # k == 1 (r12 advice) — every window would be silently dropped
        raise ValueError(f"gram width k must be >= 2, got {k}")

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from aws_trusted_advisor_explorer_spark.functions.dual import (
            HASH_INIT, P_MOD, SHINGLE_MULT,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            doc_ids = pdf["doc_id"].to_numpy()
            toks_per_doc = _tokenize_batch(pdf["text"])
            ntoks = np.array([len(t) for t in toks_per_doc],
                             dtype=np.int64)
            flat = [t for ts in toks_per_doc for t in ts]
            if not flat:
                continue
            A, B = _token_fold_AB(flat)
            ht = (HASH_INIT * A + B) % P_MOD
            tok_doc = np.repeat(np.arange(len(ntoks)), ntoks)
            if len(tok_doc) < k:
                continue
            starts = np.flatnonzero(
                tok_doc[:-(k - 1)] == tok_doc[(k - 1):])
            if not len(starts):
                continue
            h = np.full(len(starts), HASH_INIT, dtype=np.int64)
            for j in range(k):
                h = (h * SHINGLE_MULT + ht[starts + j]) % P_MOD
            d_idx = tok_doc[starts]
            out = {"doc_id": doc_ids[d_idx]}
            if with_pos:
                # pos = 1-based window index within the doc: token
                # index of the window start minus the doc's first
                # token index + 1
                doc_first = np.zeros(len(ntoks), dtype=np.int64)
                np.cumsum(ntoks[:-1], out=doc_first[1:])
                out["pos"] = starts - doc_first[d_idx] + 1
            out["hv"] = h
            yield pd.DataFrame(out)

    return kernel


def _shingle_hash_kernel(batches):
    """Arrow-kernel twin of :func:`shingle_hash_sql`'s explode+fold
    (r12 optimization, guide §4.2): same (doc_id, hv) rows, computed
    as EXACT modular integer arithmetic in numpy instead of the
    interpreted per-row char fold. The identity used: folding a string
    s onto hash state h is the affine map ``h -> (h*31^len(s) +
    fold0(s)) mod P`` (fold0 = the char fold started at 0), so the
    3-token shingle hash ``poly_hash(t1 || ' ' || t2 || ' ' || t3)``
    composes from per-token (A, B) = (31^len mod P, fold0) pairs and
    the constant space step (A=31, B=32) — each token occurrence is
    char-folded ONCE (vectorized over a padded byte matrix), each
    shingle then costs ~10 int64 ops. All intermediates < P*31^1 or
    h*A < P^2 ~ 1e18 < 2^63 — exact. Tokenization replays the SQL
    (``lower`` + ``[a-z0-9]+``) in Python; bit-equality with the SQL
    form is pinned by test_shingle_kernel_matches_sql (all SFs) and
    every downstream pairs-plane oracle."""
    import numpy as np
    import pandas as pd

    from aws_trusted_advisor_explorer_spark.functions.dual import (
        HASH_INIT, HASH_MULT, P_MOD,
    )

    for pdf in batches:
        if not len(pdf):
            continue
        doc_ids = pdf["doc_id"].to_numpy()
        toks_per_doc = _tokenize_batch(pdf["text"])
        ntoks = np.array([len(t) for t in toks_per_doc], dtype=np.int64)
        flat = [t for ts in toks_per_doc for t in ts]
        if not flat:
            continue
        A, B = _token_fold_AB(flat)
        # shingle windows: token positions p, p+1, p+2 within one doc
        tok_doc = np.repeat(np.arange(len(ntoks)), ntoks)
        starts = np.flatnonzero(
            (tok_doc[:-2] == tok_doc[2:]) if len(tok_doc) > 2
            else np.zeros(0, dtype=bool))
        if not len(starts):
            continue
        h = (HASH_INIT * A[starts] + B[starts]) % P_MOD
        h = (h * HASH_MULT + 32) % P_MOD                  # ' '
        h = (h * A[starts + 1] + B[starts + 1]) % P_MOD
        h = (h * HASH_MULT + 32) % P_MOD                  # ' '
        h = (h * A[starts + 2] + B[starts + 2]) % P_MOD
        yield pd.DataFrame({"doc_id": doc_ids[tok_doc[starts]],
                            "hv": h})


GRAM_FOLD_VIEW = "__gram_fold"
# window widths of the token-hash-combinator streams riding the fused
# fold pass: 5 == corpusops.CONTAM_NGRAM (cross-checked at corpusops
# import), 8 == SPAN_GRAM (asserted below the constant's definition)
GRAM_FOLD_COMBI_KS = (5, 8)
if set(GRAM_FOLD_COMBI_KS) & {3, 4}:
    # a combinator stream's id is its width, and ids 3 and 4 carry the
    # 3-gram string hash and its per-doc distinct set: a width there
    # would mix its rows into those streams
    raise ValueError(
        f"GRAM_FOLD_COMBI_KS {GRAM_FOLD_COMBI_KS} collides with the "
        f"reserved stream ids 3 and 4")


def _gram_fold_kernel(batches):
    """Fused Arrow kernel for the three gram-hash planes (r13, guide
    §2.4/§4.2): ONE tokenize + per-token char fold over ``documents``
    emits all three hv streams that previously each re-ran the fold —
    the shingle plane (stream 3: the 3-gram STRING hash,
    :func:`_shingle_hash_kernel`'s exact composition), the
    contamination plane (stream 5) and the span plane (stream 8, with
    positions), both via the token-hash window combinator
    (:func:`make_gram_hv_kernel`'s exact composition). The tokenize +
    char fold is ~60% of each plane's kernel cost and is identical
    across the three, so fusing turns 3 corpus scans + 3 Python folds
    into 1 of each. Per-stream rows are BIT-IDENTICAL to the
    single-plane kernels (same numpy expressions, same guard
    conditions) — pinned by test_gram_fold_kernel_matches_per_plane_kernels
    and the standing plane-vs-SQL pins. ``pos`` is 0 on stream 3, the
    per-doc distinct count on stream 4, and the 1-based window start
    on the combinator streams (5, 8)."""
    import numpy as np
    import pandas as pd

    from aws_trusted_advisor_explorer_spark.functions.dual import (
        HASH_INIT, HASH_MULT, P_MOD, SHINGLE_MULT,
    )

    for pdf in batches:
        if not len(pdf):
            continue
        doc_ids = pdf["doc_id"].to_numpy()
        toks_per_doc = _tokenize_batch(pdf["text"])
        ntoks = np.array([len(t) for t in toks_per_doc], dtype=np.int64)
        flat = [t for ts in toks_per_doc for t in ts]
        if not flat:
            continue
        A, B = _token_fold_AB(flat)
        tok_doc = np.repeat(np.arange(len(ntoks)), ntoks)
        # stream 3: the 3-gram string hash (space-separated fold) —
        # _shingle_hash_kernel's composition verbatim
        starts = np.flatnonzero(
            (tok_doc[:-2] == tok_doc[2:]) if len(tok_doc) > 2
            else np.zeros(0, dtype=bool))
        if len(starts):
            h = (HASH_INIT * A[starts] + B[starts]) % P_MOD
            h = (h * HASH_MULT + 32) % P_MOD                  # ' '
            h = (h * A[starts + 1] + B[starts + 1]) % P_MOD
            h = (h * HASH_MULT + 32) % P_MOD                  # ' '
            h = (h * A[starts + 2] + B[starts + 2]) % P_MOD
            d3 = tok_doc[starts]
            yield pd.DataFrame({
                "stream": np.full(len(starts), 3, dtype=np.int32),
                "doc_id": doc_ids[d3],
                "pos": np.zeros(len(starts), dtype=np.int32),
                "hv": h})
            # stream 4: the per-doc DISTINCT 3-gram hvs with the
            # per-doc distinct count riding in ``pos`` — computable
            # in-kernel because each document is ONE input row, so its
            # whole shingle set is local here. Replaces the
            # SHINGLE_DISTINCT_VIEW build's corpus-wide
            # ``SELECT DISTINCT`` exchange + count window (r13; the
            # rows are identical by construction: distinct (doc_id,
            # hv) with count(*) OVER (PARTITION BY doc_id)).
            order = np.lexsort((h, d3))
            hs, ds = h[order], d3[order]
            first = np.ones(len(hs), dtype=bool)
            first[1:] = (hs[1:] != hs[:-1]) | (ds[1:] != ds[:-1])
            hu, du = hs[first], ds[first]
            ndist = np.bincount(du, minlength=len(ntoks))
            yield pd.DataFrame({
                "stream": np.full(len(hu), 4, dtype=np.int32),
                "doc_id": doc_ids[du],
                "pos": ndist[du].astype(np.int32),
                "hv": hu})
        # combinator streams: per-token hash once, then the
        # SHINGLE_MULT window fold per width — make_gram_hv_kernel's
        # composition verbatim (including its guard conditions)
        ht = (HASH_INIT * A + B) % P_MOD
        doc_first = np.zeros(len(ntoks), dtype=np.int64)
        np.cumsum(ntoks[:-1], out=doc_first[1:])
        for k in GRAM_FOLD_COMBI_KS:
            if len(tok_doc) < k:
                continue
            starts = np.flatnonzero(
                tok_doc[:-(k - 1)] == tok_doc[(k - 1):])
            if not len(starts):
                continue
            h = np.full(len(starts), HASH_INIT, dtype=np.int64)
            for j in range(k):
                h = (h * SHINGLE_MULT + ht[starts + j]) % P_MOD
            d_idx = tok_doc[starts]
            yield pd.DataFrame({
                "stream": np.full(len(starts), k, dtype=np.int32),
                "doc_id": doc_ids[d_idx],
                "pos": (starts - doc_first[d_idx] + 1).astype(np.int32),
                "hv": h})


@session_plane("gram_fold")
def ensure_gram_fold_view(spark, key: object = None) -> str:
    """Materialize the FUSED gram-hash relation (stream, doc_id, pos,
    hv) once per (session, dataset) — the shared tokenize+char-fold
    pass under the shingle, span, and contamination planes (r13, guide
    §2.4: the three planes each re-ran the identical fold over the
    full corpus). Priced as its own ``plane:gram_fold`` row; the
    per-plane ensure functions read their stream slice from it inside
    their own builds, so their rows price only the per-plane
    materialization/aggregation that remains."""
    from aws_trusted_advisor_explorer_spark.session import kernel_partitions

    # repartition BEFORE the kernel (r13):
    # the input corpus ships as ONE parquet file with one row
    # group, so the scan is a single task and the whole fused fold
    # ran single-threaded at any core count (the flat 8-vs-32
    # ratios in SCALING.md's core-scaling block). The exchange
    # moves only the narrow (doc_id, text) rows once; the
    # checkpointed plane then inherits the parallel layout for
    # every consumer.
    base_rel = spark.table("documents").select("doc_id", "text")
    kdf = (base_rel.repartition(kernel_partitions(base_rel))
           .mapInPandas(_gram_fold_kernel,
                        schema="stream int, doc_id long, pos int, "
                               "hv long"))
    materialize_plane_df(kdf, GRAM_FOLD_VIEW)
    return GRAM_FOLD_VIEW


def gram_fold_stream_df(spark, k: int, with_pos: bool):
    """The one accessor the per-plane builds use (each declares the
    ``gram_fold`` dep): the fused fold plane's width-``k`` stream slice
    — (doc_id, pos, hv) or (doc_id, hv)."""
    cols = ["doc_id", "pos", "hv"] if with_pos else ["doc_id", "hv"]
    return spark.table(GRAM_FOLD_VIEW).where(f"stream = {k}").select(*cols)


@session_plane("shingle", deps=("gram_fold",))
def ensure_shingle_view(spark, key: object = None) -> str:
    """Materialize the shingle-hash relation as a localCheckpoint-backed
    temp view, once per (session, dataset). ``key`` identifies the
    dataset (the sf_dir in the driver contract; None = "whatever
    ``documents`` currently is", for single-fixture test sessions).

    On a cluster this is the classic build-once index step: persist /
    checkpoint the shingle table, then every dedup query is a cheap
    join against it instead of re-running the explode+hash pipeline
    (which Spark would otherwise re-evaluate per CTE reference, since
    CTEs are inlined)."""
    # the kernel twin of shingle_hash_sql (r12): same rows, exact
    # integer arithmetic, ~4x the interpreted char fold — see
    # _shingle_hash_kernel (the standalone reference form); since
    # r13 the rows come from the FUSED fold plane's stream-3 slice
    # (ensure_gram_fold_view — one tokenize+fold pass shared with
    # the span/contamination planes instead of three)
    kdf = gram_fold_stream_df(spark, 3, with_pos=False)
    materialize_plane_df(kdf, SHINGLE_VIEW)
    # the deduplicated per-doc shingle set with its count rides along —
    # MinHash / exact-Jaccard would otherwise re-run the DISTINCT +
    # window once per CTE reference (2-3x per query). Since r13 the
    # distinct set and the per-doc count come straight from the
    # fused kernel's stream-4 slice (per-doc distinct is local to
    # the kernel because each doc is one input row) — the
    # corpus-wide DISTINCT exchange + count window are gone.
    ddf = materialize_plane_df(
        spark.table(GRAM_FOLD_VIEW).where("stream = 4")
        .selectExpr("doc_id", "hv", "cast(pos as bigint) AS n"),
        SHINGLE_DISTINCT_VIEW)
    # the DF-capped relation (hot boilerplate shingles dropped, per-doc
    # counts over the SURVIVORS) rides along too: it feeds both sides
    # of the exact-Jaccard/containment self-join, which would otherwise
    # re-run the cap filter + count window once per join side under
    # CTE inlining (measured 1.11s -> 0.75s per query at sf0.1).
    # r13 shape: the keep-set join + corpus-wide
    # count window became (a) an ANTI join against the OVER-cap hv
    # set (boilerplate only — small and selective, AQE broadcasts
    # it) and (b) the survivor count as ``n - removed`` via a
    # per-doc correction aggregate over the over-cap rows only —
    # identical rows (every distinct hv is kept xor removed, so
    # count-over-survivors == n - |this doc's over-cap hvs|), no
    # window exchange+sort over the full distinct relation.
    from pyspark.sql import functions as F
    over = (ddf.groupBy("hv").agg(F.count("*").alias("df_"))
            .where(f"df_ > {NGRAM_DF_CAP}").select("hv"))
    rem = (ddf.join(over, "hv").groupBy("doc_id")
           .agg(F.count("*").alias("r_")))
    materialize_plane_df(
        ddf.join(over, "hv", "left_anti")
        .join(rem, "doc_id", "left")
        .selectExpr("doc_id", "hv", "n - coalesce(r_, 0L) AS n"),
        SHINGLE_CAPPED_VIEW)
    return SHINGLE_VIEW


def _require_shingle_base(base: str, what: str) -> None:
    """The ONE wrong-relation guard for every shingle-plane consumer:
    ``base`` must be the shingle plane's own view name because the
    ride-along views (distinct/capped/prefix) are keyed to it — an
    arbitrary relation would silently read the wrong corpus. ``what``
    names the ride-along(s) the caller reads, for the error message."""
    if base != SHINGLE_VIEW:
        raise ValueError(
            f"base must be ensure_shingle_view's {SHINGLE_VIEW!r} "
            f"({what}), got {base!r}")


def _shingle_cte(d: Dialect, base: str | None = None) -> str:
    """Distinct 3-gram shingle hashes per doc, with the per-doc shingle
    count attached by a window (``sh2``) so pair queries don't need
    extra joins back to a count CTE. With ``base`` (a materialized
    shingle-hash view, Spark side) the expensive explode+hash prefix is
    read from cache; without it the CTE is self-contained (DuckDB
    oracle, standalone tests). ``base`` must be the shingle plane's own
    view name — the distinct/capped ride-alongs are keyed to it, so an
    arbitrary relation here would silently read the wrong corpus."""
    if base is not None:
        _require_shingle_base(base, "its distinct/capped ride-along "
                                    "views are keyed to it")
        return f"""WITH sh AS (SELECT doc_id, hv FROM {SHINGLE_DISTINCT_VIEW}),
sh2 AS (SELECT doc_id, hv, n FROM {SHINGLE_DISTINCT_VIEW})"""
    toks = d.tokens("text")
    shingles = d.shingles("toks", 3)
    return f"""WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
e AS (SELECT doc_id, {d.explode(shingles)} AS shingle FROM t),
sh AS (SELECT DISTINCT doc_id, {d.poly_hash('shingle')} AS hv FROM e),
sh2 AS (SELECT doc_id, hv, count(*) OVER (PARTITION BY doc_id) AS n FROM sh)"""


def _capped_shingle_cte(d: Dialect, base: str | None = None) -> str:
    """DF-capped shingle relation ``fs2(doc_id, hv, n)``: hot boilerplate
    shingles (document frequency > NGRAM_DF_CAP) dropped, per-doc counts
    over the survivors. Both sides of the exact-Jaccard/containment
    self-join read it, so with ``base`` (Spark side) it comes from the
    checkpoint-backed :data:`SHINGLE_CAPPED_VIEW` — inlining would
    otherwise re-run the cap filter + count window once per join side.
    Without ``base`` the chain is self-contained (DuckDB oracle,
    standalone tests). Like :func:`_shingle_cte`, ``base`` must be the
    shingle plane's own view name (the capped ride-along is keyed to
    it)."""
    if base is not None:
        _require_shingle_base(base, "the capped ride-along view is "
                                    "keyed to it")
        return (f"WITH fs2 AS "
                f"(SELECT doc_id, hv, n FROM {SHINGLE_CAPPED_VIEW})")
    return f"""{_shingle_cte(d, None)},
keep AS (
  SELECT hv FROM sh GROUP BY hv HAVING count(*) <= {NGRAM_DF_CAP}
),
fs AS (SELECT s.doc_id, s.hv FROM sh s JOIN keep k ON k.hv = s.hv),
fs2 AS (SELECT doc_id, hv, count(*) OVER (PARTITION BY doc_id) AS n FROM fs)"""


def _pair_array_verify_df(spark, pairs, base: str):
    """Exact-Jaccard verification of a candidate pair relation via
    per-doc shingle-hash ARRAYS + JVM ``array_intersect`` (r12, guide
    §2.3/§3): the join-based verify expands pairs x shingles
    (|pairs|*~s rows through two equi-joins and a per-pair hash
    aggregate — the measured hot stage of band tuning and the pairs
    plane); the array form aggregates the shingle plane once to one
    row per doc (a map-side-combining collect over the materialized
    view), attaches each endpoint's set with a skinny join, and
    computes |A∩B| in one codegen'd array op per pair. The counts are
    the same integers (per-doc hv sets are distinct by construction,
    and ``array_intersect`` dedups), so ``jaccard`` — one division of
    those integers — is bit-identical to the SQL join form; pairs
    whose endpoints have no shingle rows drop out of the inner joins
    exactly as they produce no ``common`` row in the SQL form, and
    shared-nothing pairs yield jaccard 0, below every caller's
    threshold (the SQL form never emits them).

    Scale posture (100 TB): the arrays relation is corpus-sized rows
    of bounded width (per-doc distinct shingle count); both joins key
    on doc id — co-partitionable with the pair graph — and the
    intersect is task-local, so nothing pairs-x-shingles-sized ever
    enters an exchange.

    Two measured gotchas shape the plan (guide §1.1's "the ideal plan
    is slower at first"): (1) AQE coalesces a small distinct pair
    relation to ONE partition (134 k pairs ≈ 2 MB), serializing the
    intersect onto one core — the pairs are re-spread to
    ``range_partitions`` first (a ~2 MB round-robin exchange buys
    32-way task parallelism); (2) the arrays aggregate feeds both
    join sides, so it is lazily checkpointed once (no ReusedExchange
    across the two subtrees otherwise). The join strategy is left to
    the planner: the checkpointed arrays relation has a REAL size
    (auto-broadcast fires under the 64 MB threshold locally; a
    corpus-sized arrays relation at 100 TB exceeds it and falls back
    to a co-partitioned shuffle join — no forced hint to outgrow).

    ``pairs``: DataFrame(ia, ib), assumed distinct. Returns
    (ia, ib, jaccard) for every pair with both endpoints in the
    shingle relation — callers apply their own threshold filter."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.session import range_partitions

    _require_shingle_base(base, "the distinct ride-along view holds "
                                "the per-doc shingle sets")
    arrs = (spark.table(SHINGLE_DISTINCT_VIEW)
            .groupBy("doc_id")
            .agg(F.collect_list("hv").alias("hvs"))
            .localCheckpoint(eager=False))
    a = arrs.select(F.col("doc_id").alias("ia"), F.col("hvs").alias("ha"))
    b = arrs.select(F.col("doc_id").alias("ib"), F.col("hvs").alias("hb"))
    return (pairs.repartition(range_partitions(spark))
            .join(a, "ia").join(b, "ib")
            .withColumn("n_common",
                        F.expr("size(array_intersect(ha, hb))"))
            .withColumn("jaccard", F.expr(
                "cast(n_common as double) / "
                "(size(ha) + size(hb) - n_common)"))
            .select("ia", "ib", "jaccard"))


def dedup_exact_groups(d: Dialect) -> str:
    """Exact duplicate groups, keyed on the 128-bit content hash so the
    exchange carries a 32-char key instead of full document text (at
    100 TB the shuffle key IS the cost; md5 collision risk at 128 bits
    is nil). One row per duplicated text, keeper = min doc_id.
    Dialect-invariant SQL — md5 is hex-string-identical in Spark and
    DuckDB."""
    return """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
HAVING count(*) > 1"""


def dedup_exact_flags(d: Dialect) -> str:
    """Per-document exact-dup verdict via a window min (no second join
    back to the groups). The window partitions on the
    content hash, projected BEFORE the exchange so the raw text never
    enters the shuffle. Dialect-invariant SQL."""
    return """WITH k AS (SELECT doc_id, md5(text) AS content_key FROM documents)
SELECT doc_id,
  CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY content_key) THEN 0 ELSE 1 END AS is_dup
FROM k"""


def _minhash_mins_sql(n_perm: int) -> str:
    """The per-permutation signature minima SELECT fragment
    (``min((a*hv + b) % P) AS m{{j}}``) — the ONE definition of the
    MinHash signature scheme, shared by the LSH candidate stage and
    the estimator audit so the audit can never drift onto a stale
    scheme."""
    return ",\n    ".join(
        f"min(({a} * hv + {b}) % {P_MOD}) AS m{j}"
        for j, (a, b) in enumerate(minhash_params(n_perm)))


MINHASH_SIGS_VIEW = "__minhash_sigs"


@session_plane("minhash_sigs", deps=("shingle",))
def ensure_minhash_sigs_view(spark, key: object = None) -> str:
    """Materialize the {N_PERM}-perm MinHash signature relation
    (doc_id, m0..m{N_PERM - 1}) once per (session, dataset) — r13,
    guide §2.4: the LSH query, the pairs-plane build, the band-tuning
    ladder, and the estimator audit each re-ran the same signature
    groupBy over the distinct shingle view (~0.5 s each at sf0.1; one
    pass over the shingle plane at scale). Signatures are
    banding-independent, so every consumer reads this one relation via
    ``mh_view``. Ensures the shingle plane first; priced as its own
    ``plane:minhash_sigs`` row."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    base = ensure_shingle_view(spark, key)
    materialize_plane_df(
        spark.sql(f"{_shingle_cte(SPARK, base)}\n"
                  f"SELECT doc_id,\n    {_minhash_mins_sql(N_PERM)}\n"
                  f"FROM sh GROUP BY doc_id"),
        MINHASH_SIGS_VIEW)
    return MINHASH_SIGS_VIEW


def dedup_minhash_lsh(d: Dialect, base: str | None = None,
                      n_perm: int = N_PERM,
                      n_bands: int = N_BANDS,
                      with_cand_count: bool = False,
                      mh_view: str | None = None) -> str:
    """MinHash(``n_perm`` perms) -> ``n_bands``-band LSH candidate
    join -> exact Jaccard verify on candidates only. Output:
    (doc_a, doc_b, jaccard).

    The committed default (16 perms / 4 bands, 4 rows per band) is
    the driver-oracled query; a production 100 TB near-dup pass runs
    more perms at the SAME rows-per-band (e.g. 128 perms / 32 bands),
    which strictly raises per-pair detection probability
    (1 - (1 - J^r)^b is monotone in b at fixed r) —
    ``test_minhash_recall_dominance_at_high_fidelity``
    (tests/test_extensions.py) pins that dominance on a planted
    borderline corpus (J ~= 0.565: 16/4 recalls 14/40 pairs, 128/32
    recalls 38/40, 256/64 recalls 40/40, deterministic). Raising
    rows-per-band instead (128 perms / 16 bands, r=8) LOWERS
    borderline recall (0.125 on the same corpus) — that is the
    precision knob, pinned by the same test. The plan shape is config-
    independent: one groupBy computes all ``n_perm`` min-aggregates
    (map-side combining, signature state = n_perm ints per doc), one
    explode emits the bands.

    Plan shape: the band index is EMBEDDED in the signature string and
    generated by one explode — a UNION-per-band would make Spark
    re-evaluate the whole minhash pipeline once per band (CTEs inline).
    Band buckets larger than BAND_CAP emit STAR candidates (hub =
    bucket min doc_id) instead of all pairs — see the BAND_CAP note.

    ``with_cand_count=True`` (the band-tuning report's cost metric)
    rides a pre-verify candidate count along every output row via ONE
    unpartitioned count window over the candidate relation — bounded:
    candidates are near-dup-pair-sized with BAND_CAP capping per-
    bucket fan-out — so the candidate pipeline still evaluates
    exactly once (a separate COUNT reference would re-run it under
    Spark CTE inlining). ``mh_view`` reads the {n_perm}-column
    signature relation from a pre-materialized view instead of
    re-aggregating it — the band-tuning twin computes signatures ONCE
    for its whole config ladder (bandings differ, signatures don't).
    Defaults leave the SQL byte-identical to the committed form every
    pairs-plane consumer hashes against.
    """
    if n_perm % n_bands != 0:
        raise ValueError(
            f"n_perm {n_perm} must be divisible by n_bands {n_bands} "
            f"(bands are contiguous equal-width signature slices)")
    mins = _minhash_mins_sql(n_perm)
    rows_per_band = n_perm // n_bands
    band_strs = []
    for band in range(n_bands):
        cols = [f"cast(m{band * rows_per_band + r} as string)"
                for r in range(rows_per_band)]
        band_strs.append(f"concat_ws(':', '{band}', " + ", ".join(cols) + ")")
    if d.name == "spark":
        band_arr = "array(" + ", ".join(band_strs) + ")"
    else:
        band_arr = "[" + ", ".join(band_strs) + "]"
    if with_cand_count:
        cand_tail = ",\ncc AS (SELECT ia, ib, count(*) OVER () AS n_cand FROM cand)"
        cand_src = "cc"
        cc_common = ", max(c.n_cand) AS n_cand"
        cc_out = ", cast(n_cand as bigint) AS n_cand"
    else:
        cand_tail = ""
        cand_src = "cand"
        cc_common = ""
        cc_out = ""
    mh_body = (f"SELECT * FROM {mh_view}" if mh_view is not None
               else f"SELECT doc_id,\n    {mins}\n  FROM sh GROUP BY doc_id")
    return f"""{_shingle_cte(d, base)},
mh AS (
  {mh_body}
),
bands AS (
  SELECT doc_id, {d.explode(band_arr)} AS band_sig FROM mh
),
bs AS (
  SELECT band_sig, count(*) AS bn, min(doc_id) AS hub
  FROM bands GROUP BY band_sig
),
cand AS (
  SELECT DISTINCT ia, ib FROM (
    SELECT a.doc_id AS ia, b.doc_id AS ib
    FROM bands a
    JOIN bs ON bs.band_sig = a.band_sig AND bs.bn <= {BAND_CAP}
    JOIN bands b ON b.band_sig = a.band_sig AND a.doc_id < b.doc_id
    UNION ALL
    SELECT bs.hub AS ia, x.doc_id AS ib
    FROM bands x
    JOIN bs ON bs.band_sig = x.band_sig AND bs.bn > {BAND_CAP}
    WHERE x.doc_id <> bs.hub
  ) u
){cand_tail},
common AS (
  SELECT c.ia, c.ib, count(*) AS n_common, max(a.n) AS na, max(b.n) AS nb{cc_common}
  FROM {cand_src} c
  JOIN sh2 a ON a.doc_id = c.ia
  JOIN sh2 b ON b.doc_id = c.ib AND b.hv = a.hv
  GROUP BY c.ia, c.ib
)
SELECT ia AS doc_a, ib AS doc_b,
  cast(n_common as double) / (na + nb - n_common) AS jaccard{cc_out}
FROM common
WHERE cast(n_common as double) / (na + nb - n_common) >= {JACCARD_THRESHOLD}"""


NGRAM_COMMON_VIEW = "__ngram_common"


def _ngram_common_cte(d: Dialect, base: str | None,
                      common_view: str | None = None) -> str:
    """CTE chain ending in ``common(ia, ib, n_common, na, nb)`` — the
    DF-capped shared-shingle self-join + per-pair aggregate that
    :func:`dedup_ngram_jaccard` and :func:`dedup_containment` share
    (identical text in both). With ``common_view`` (the session plane,
    :func:`ensure_ngram_common_view`) it is a plane scan; otherwise
    the self-contained chain (DuckDB oracle, standalone tests)."""
    if common_view is not None:
        return (f"WITH common AS (SELECT ia, ib, n_common, na, nb "
                f"FROM {common_view})")
    return f"""{_capped_shingle_cte(d, base)},
common AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS n_common,
    max(a.n) AS na, max(b.n) AS nb
  FROM fs2 a JOIN fs2 b ON a.hv = b.hv AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)"""


@session_plane("ngram_common", deps=("shingle",))
def ensure_ngram_common_view(spark, key: object = None) -> str:
    """Materialize the shared-shingle pair aggregate ``common(ia, ib,
    n_common, na, nb)`` once per (session, dataset) — r13, guide §2.4:
    the exact-Jaccard report, the containment report, and the truth
    arms of the band-tuning and LSH-recall audits each re-ran the
    DF-capped self-join + aggregate (~0.6 s each at sf0.1; the
    heaviest join in the dedup family at scale). Near-dup-pair-sized
    output (the DF cap bounds fan-out). Ensures the shingle plane
    first; priced as its own ``plane:ngram_common`` row."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    base = ensure_shingle_view(spark, key)
    materialize_plane_df(
        spark.sql(f"{_ngram_common_cte(SPARK, base)}\n"
                  f"SELECT ia, ib, n_common, na, nb FROM common"),
        NGRAM_COMMON_VIEW)
    return NGRAM_COMMON_VIEW


def dedup_ngram_jaccard(d: Dialect, common_view: str | None = None) -> str:
    """Exact n-gram Jaccard near-dup pairs via the shared-shingle join
    (ground truth for the MinHash variant; shuffle-heavy at 100 TB —
    see module doc). Guarded against hot-shingle candidate explosion:
    shingles with document frequency > NGRAM_DF_CAP (corpus
    boilerplate) are dropped before the self-join, bounding per-shingle
    fan-out at CAP^2; set sizes and Jaccard are computed over the
    surviving shingles in BOTH dialects. With ``common_view`` (the
    session pair-aggregate plane) the report is a plane scan + the
    same ratio filter."""
    return f"""{_ngram_common_cte(d, None, common_view)}
SELECT ia AS doc_a, ib AS doc_b,
  cast(n_common as double) / (na + nb - n_common) AS jaccard
FROM common
WHERE cast(n_common as double) / (na + nb - n_common) >= {JACCARD_THRESHOLD}"""


CONTAIN_THRESHOLD = 0.8  # min |A∩B| / min(|A|,|B|) to report a pair


def dedup_containment(d: Dialect, common_view: str | None = None) -> str:
    """Asymmetric shingle containment: pairs where the SMALLER document's
    shingle set is mostly inside the larger one's —
    ``containment = |S_A ∩ S_B| / min(|S_A|, |S_B|)``. Catches
    quote/excerpt/subset duplication that symmetric Jaccard misses when
    sizes differ (a doc fully embedded in one 10x its size has Jaccard
    ~0.1 but containment 1.0). Both directional ratios are emitted so
    the consumer can tell which side is the fragment.

    Same candidate machinery and hot-shingle guard as
    :func:`dedup_ngram_jaccard` (shared-shingle equi-join over
    DF-capped shingle hashes); only the verify arithmetic differs, so
    the two queries share the materialized shingle view at scale —
    and, since r13, the materialized pair aggregate itself
    (``common_view`` — :func:`ensure_ngram_common_view`)."""
    return f"""{_ngram_common_cte(d, None, common_view)}
SELECT ia AS doc_a, ib AS doc_b,
  cast(n_common as bigint) AS n_common,
  cast(n_common as double) / na AS contain_a_in_b,
  cast(n_common as double) / nb AS contain_b_in_a
FROM common
WHERE cast(n_common as double) /
      (CASE WHEN na < nb THEN na ELSE nb END) >= {CONTAIN_THRESHOLD}"""


# Jaccard threshold 1/2 as an exact rational for the prefix-filter
# arithmetic (must equal JACCARD_THRESHOLD; pinned by an import-time
# assert so the two exact algorithms can never silently diverge)
PREFIX_T_NUM, PREFIX_T_DEN = 1, 2
if PREFIX_T_NUM / PREFIX_T_DEN != JACCARD_THRESHOLD:
    # a bare assert would be stripped under PYTHONOPTIMIZE and let the
    # prefix filter prune at a different threshold than the final WHERE
    raise ValueError(
        f"PREFIX_T rational {PREFIX_T_NUM}/{PREFIX_T_DEN} must equal "
        f"JACCARD_THRESHOLD {JACCARD_THRESHOLD}")

PREFIX_VIEW = "__doc_shingle_prefix"
SETS_VIEW = "__doc_shingle_sets"


@session_plane("prefix", deps=("shingle",))
def ensure_prefix_views(spark, key: object = None) -> tuple[str, str]:
    """Materialize the prefix-join inputs once per (session, dataset):
    the rarest-first per-doc prefix relation (both sides of the
    candidate self-join read it — inlining would re-run the df
    aggregate + rank window per side) and the doc-level shingle-set
    dimension the verify stage intersects against (read once per
    candidate side). Layered on the shingle plane like the capped
    ride-along."""
    pl = (f"n - ((n * {PREFIX_T_NUM} + {PREFIX_T_DEN} - 1) "
          f"div {PREFIX_T_DEN}) + 1")
    # r (the rank within the doc's FULL rarest-first ordering) rides
    # along — the position filter's upper bound needs it per side
    materialize_plane_df(spark.sql(f"""
            SELECT doc_id, hv, n, r FROM (
              SELECT f.doc_id, f.hv, f.n,
                row_number() OVER (PARTITION BY f.doc_id
                                   ORDER BY fr.df, f.hv) AS r
              FROM {SHINGLE_CAPPED_VIEW} f
              JOIN (SELECT hv, cast(count(*) as bigint) AS df
                    FROM {SHINGLE_CAPPED_VIEW} GROUP BY hv) fr
                ON fr.hv = f.hv
            ) o WHERE r <= {pl}"""), PREFIX_VIEW)
    materialize_plane_df(spark.sql(
        f"SELECT doc_id, collect_list(hv) AS arr, "
        f"cast(max(n) as bigint) AS n "
        f"FROM {SHINGLE_CAPPED_VIEW} GROUP BY doc_id"), SETS_VIEW)
    return PREFIX_VIEW, SETS_VIEW


def dedup_prefix_join(d: Dialect, base: str | None = None,
                      position_filter: bool = True) -> str:
    """Exact Jaccard near-dup pairs via PREFIX FILTERING (PPJoin
    family, Xiao et al. 2008; Chaudhuri et al. 2006) — the scalable
    exact algorithm, vs :func:`dedup_ngram_jaccard`'s full
    shared-shingle join. Same DF-capped shingle universe, same
    threshold, IDENTICAL output — the driver oracle runs the plain
    shared-shingle join, so the two different algorithms check each
    other end-to-end.

    How it prunes: order each doc's shingles by a GLOBAL total order
    (document frequency asc, hv asc — rarest first, deterministic
    tiebreak) and keep only the ``n - ceil(t*n) + 1``-length prefix as
    join keys. Completeness: if J(A,B) >= t then |A∩B| >= ceil(t*|A|)
    and >= ceil(t*|B|); were the global-minimum common shingle outside
    A's prefix, ALL common shingles would sit in A's
    ``ceil(t*|A|)-1``-sized suffix — contradiction — so the minimum
    common shingle lies in BOTH prefixes and the equi-join finds the
    pair. The size filter (t*max <= min) prunes cross-size candidates
    the threshold already forbids, and the POSITION filter (Xiao et
    al. 2008 §3.2, in its accumulated per-pair form) prunes pairs
    whose shared-prefix matches already cap the overlap below the
    required alpha = ceil(t*(|A|+|B|)/(1+t)). Soundness of the group
    bound ``c + min(|A|-max_ra, |B|-max_rb) >= alpha`` (c = shared
    prefix-shingle count, max_ra/max_rb = ranks of the LARGEST shared
    prefix shingle w_max): per-doc rank order equals the global
    (df, hv) order, so any common shingle smaller than w_max has rank
    < max_ra <= pl_A in A and < max_rb <= pl_B in B — i.e. it sits in
    BOTH prefixes and is therefore one of the c join rows; any common
    shingle larger than w_max has rank > max_ra in A and > max_rb in
    B, so at most min(|A|-max_ra, |B|-max_rb) of them exist. Total
    overlap <= the bound, hence J >= t implies the pair survives.
    (The single-row variant of the filter pruned <1% on this fixture
    — shallow-rank matches bound nothing; the accumulated form cuts
    the verify set 2.6x at sf0.1, measured below.) The GROUP BY that
    computes c replaces the DISTINCT the candidate step needed anyway
    — same exchange, no extra pass. Each candidate pair is VERIFIED by
    array intersection against a doc-level shingle-set dimension
    (corpus-doc-sized, broadcastable) — joining candidates back to the
    row-per-shingle relation instead would expand to candidates x
    set-size rows, which measured SLOWER than the full join it is
    meant to beat (3.7s vs 0.9s at sf0.1 before this verify shape).

    Scale posture (100 TB): the join fan-out per shingle is bounded by
    its document frequency WITHIN PREFIXES — rare shingles lead the
    order, so hot boilerplate shingles (the fan-out killers) fall out
    of prefixes entirely; the candidate set shrinks from
    Σ df² over ALL shingles to Σ df_prefix² over the rare ones
    (measured like-for-like on candidate pairs REACHING THE VERIFY:
    prefix+length filters give 3.6x fewer than the full join at
    sf0.1 / 14.8x at sf0.01; the position filter's group bound then
    prunes a further 2.6x at sf0.1 (310,086 -> 120,035 candidates
    for 256 true pairs) and ~30x at sf0.01 (777 -> 26 for 25 true
    pairs) — the pytest pins the reduction and the output equality;
    the ratio varies with how concentrated the corpus' shared
    shingles are).
    On THIS fixture the DF-capped full join is already cheap, so the
    prefix path's wall-clock is comparable rather than dominant — its
    regime is corpora where candidate generation is the bottleneck
    (heavy boilerplate fan-out that the plain equi-join would
    square). Round 3's SCALING.md flagged this query's normalized
    growth at 1.37 (the surface's only >1.0): the candidate PAIR set
    grows ~quadratically on the duplication-dense fixture (dup
    clusters scale with the corpus), so the exact per-pair verify
    inherited that. The position filter's group bound now holds the
    verify set at ~470x the true-pair count instead of ~1200x; the
    residual super-linearity is the true near-threshold pair mass
    itself — the same pressure that puts the sibling exact join just
    under 1.0, and exactly why both exact forms are the ORACLES of
    the sublinear MinHash-LSH rung rather than the 100 TB path
    themselves. The df ranking is one
    vocab-sized aggregate; the per-doc prefix rank is a window keyed
    on doc_id, co-partitioned with the shingle plane."""
    pl = (f"n - {d.idiv(f'(n * {PREFIX_T_NUM} + {PREFIX_T_DEN} - 1)', str(PREFIX_T_DEN))} + 1")
    ca = d.cte_as()
    if base is not None:
        _require_shingle_base(base, "the prefix/sets ride-along views "
                                    "are keyed to it")
        # the multiply-referenced pref/sets relations come from the
        # checkpoint-backed prefix plane (ensure_prefix_views) — each
        # would otherwise re-evaluate per join side under inlining
        head = f"""WITH pref AS (SELECT doc_id, hv, n, r FROM {PREFIX_VIEW}),
sets AS (SELECT doc_id, arr, n FROM {SETS_VIEW}),
cand AS ("""
    else:
        # self-contained (oracle/tests): MATERIALIZED pins the
        # multi-reference CTEs on DuckDB (Spark has no such hint; its
        # driver path uses the plane above)
        head = f"""{_capped_shingle_cte(d, base)},
freq AS (SELECT hv, cast(count(*) as bigint) AS df FROM fs2 GROUP BY hv),
ord AS (
  SELECT f.doc_id, f.hv, f.n,
    row_number() OVER (PARTITION BY f.doc_id
                       ORDER BY fr.df, f.hv) AS r
  FROM fs2 f JOIN freq fr ON fr.hv = f.hv
),
pref {ca} (SELECT doc_id, hv, n, r FROM ord WHERE r <= {pl}),
sets {ca} (
  SELECT doc_id, {d.arr_agg('hv')} AS arr,
    cast(max(n) as bigint) AS n
  FROM fs2 GROUP BY doc_id
),
cand AS ("""
    # required overlap alpha = ceil(t*(na+nb)/(1+t)) as exact integers
    # over the per-group size aggregates (constant within a pair group)
    alpha = d.idiv(
        f"({PREFIX_T_NUM} * (max(a.n) + max(b.n)) "
        f"+ {PREFIX_T_NUM + PREFIX_T_DEN} - 1)",
        str(PREFIX_T_NUM + PREFIX_T_DEN))
    pos = (f"""
  HAVING count(*) + least(max(a.n) - max(a.r), max(b.n) - max(b.r))
         >= {alpha}""" if position_filter else "")
    return f"""{head}
  SELECT a.doc_id AS ia, b.doc_id AS ib
  FROM pref a JOIN pref b ON a.hv = b.hv AND a.doc_id < b.doc_id
  WHERE a.n * {PREFIX_T_NUM} <= b.n * {PREFIX_T_DEN}
    AND b.n * {PREFIX_T_NUM} <= a.n * {PREFIX_T_DEN}
  GROUP BY a.doc_id, b.doc_id{pos}
),
common AS (
  SELECT c.ia, c.ib,
    cast({d.arr_intersect_size('sa.arr', 'sb.arr')} as bigint)
      AS n_common,
    sa.n AS na, sb.n AS nb
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.ia
  JOIN sets sb ON sb.doc_id = c.ib
)
SELECT ia AS doc_a, ib AS doc_b,
  cast(n_common as double) / (na + nb - n_common) AS jaccard
FROM common
WHERE cast(n_common as double) / (na + nb - n_common) >= {JACCARD_THRESHOLD}"""


def dedup_exact_normalized(d: Dialect) -> str:
    """Exact dedup AFTER text normalization (lowercase, non-alnum →
    single space, trim): catches the case/punctuation/whitespace
    variants that byte-exact dedup misses — the standard first rung of
    the near-dup ladder (cheaper than MinHash, linear like exact).
    Same scale shape as :func:`dedup_exact_groups`: the exchange key is
    the 128-bit hash of the NORMALIZED text, never the text itself.
    One row per normalized-duplicate group; ``n_raw_variants`` counts
    distinct raw texts inside the group (1 means plain exact dup,
    >1 means normalization did real work).

    Docs whose normalized form is EMPTY (no [a-z0-9] at all — e.g.
    fully non-Latin text under this ASCII normalization) are excluded
    from grouping: they are incomparable under the rule, and grouping
    them would collapse arbitrary unrelated non-ASCII documents into
    one false "duplicate" set whose keeper rule then drops real
    content. A multilingual corpus needs a script-aware normalizer
    before this rung; the exclusion keeps the operator safe rather
    than silently destructive there."""
    norm = f"trim({d.re_replace('lower(text)', '[^a-z0-9]+', ' ')})"
    # normalize once in an inner select (operators don't share
    # subexpressions across filter/projection), then filter + hash the
    # computed column
    return f"""WITH n AS (
  SELECT doc_id, text, {norm} AS nt FROM documents
),
k AS (
  SELECT doc_id, md5(nt) AS norm_key, md5(text) AS raw_key
  FROM n WHERE nt <> ''
)
SELECT norm_key, min(doc_id) AS keeper_id,
  cast(count(*) as bigint) AS n_copies,
  cast(count(DISTINCT raw_key) as bigint) AS n_raw_variants
FROM k GROUP BY norm_key HAVING count(*) > 1"""


SPAN_GRAM = 8          # token width of the positional gram window
SPAN_DF_CAP = 1000     # drop grams duplicated across more docs than this

if SPAN_GRAM not in GRAM_FOLD_COMBI_KS:
    # the span plane reads its grams from the fused fold plane's
    # stream-SPAN_GRAM slice; a width change must update both constants
    raise ValueError(
        f"SPAN_GRAM {SPAN_GRAM} missing from GRAM_FOLD_COMBI_KS "
        f"{GRAM_FOLD_COMBI_KS}")


def _span_gram_cte(d: Dialect, base: str | None = None) -> str:
    """Positional {SPAN_GRAM}-gram hash relation ``g(doc_id, pos, hv)``.
    With ``base`` (the materialized SPAN_GRAM_VIEW, Spark side) the
    expensive tokenize+char-fold prefix is read from cache; without it
    the CTE chain is self-contained (DuckDB oracle, standalone
    tests)."""
    if base is not None:
        return f"g AS (SELECT doc_id, pos, hv FROM {base})"
    hvs = d.shingle_hvs("toks", SPAN_GRAM)
    # the WHERE arr_len >= 1 guard keeps seq's a<=b contract (Spark's
    # sequence DESCENDS on a > b instead of returning empty)
    st = d.struct_(("pos", "i"), ("hv", d.elem("hvs", "i")))
    arr = d.transform(d.seq("1", d.arr_len("hvs")), "i", st)
    return f"""t AS (SELECT doc_id, {d.tokens('text')} AS toks FROM documents),
h AS (SELECT doc_id, {hvs} AS hvs FROM t),
ps AS (SELECT doc_id, {d.explode(arr)} AS s FROM h
       WHERE {d.arr_len('hvs')} >= 1),
g AS (SELECT doc_id, s.pos AS pos, s.hv AS hv FROM ps)"""


def dedup_span_exact(d: Dialect, base: str | None = None) -> str:
    """Exact duplicated-SPAN detection: maximal runs of >= {SPAN_GRAM}
    consecutive tokens that appear verbatim in more than one document —
    the substring-level dedup of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed
    relationally instead of via suffix arrays. Whole-doc dedup misses
    a boilerplate paragraph pasted into otherwise-distinct pages; this
    operator localizes it to token coordinates so a curation pass can
    cut the span, not the document.

    Plan: positional {SPAN_GRAM}-gram hashes (token-hash combinator,
    no gram strings materialized) -> grams whose distinct-doc count is
    in [2, {SPAN_DF_CAP}] -> expand each duplicated gram start to its
    covered token positions -> per doc, the maximal CONTIGUOUS covered
    regions via the gaps-and-islands transform (pos - row_number is
    constant within a run). Islanding over covered POSITIONS (not gram
    starts) means overlapping duplicated grams merge into one region —
    no token is double-counted across report rows, and a region may
    stitch together grams duplicated against different partner docs
    (it is "every token here also exists verbatim elsewhere", not "this
    exact span appears verbatim in one other doc").

    Scale posture (100 TB): the exchanged relation is (doc_id, pos,
    hv) — ~24 bytes per token, NEVER the text; the duplicated-gram
    aggregate is map-side-combining on hv; the x{SPAN_GRAM} coverage
    explode applies to duplicated grams only; the islands window
    partitions by doc_id (co-partitioned with the join's output). The
    DF cap is a stop-gram guard exactly like NGRAM_DF_CAP: grams in
    more than {SPAN_DF_CAP} docs are EXCLUDED from the join (and from
    this report) — at that frequency they are boilerplate with no
    per-pair signal, and joining them explodes candidate rows; that
    exclusion is part of the operator's semantics, mirrored in the
    oracle. Hash collisions (poly mod 1e9+7) can merge unrelated
    grams; at curation scale a verify pass re-checks span bytes before
    cutting (same verify-after-candidates shape as MinHash->Jaccard).
    """
    return f"""WITH {_span_gram_cte(d, base)},
dup AS (SELECT hv FROM g GROUP BY hv
        HAVING count(DISTINCT doc_id) BETWEEN 2 AND {SPAN_DF_CAP}),
cov0 AS (
  SELECT g.doc_id, g.pos AS start,
    {d.explode(d.seq('g.pos', f'g.pos + {SPAN_GRAM} - 1'))} AS pos
  FROM g JOIN dup ON g.hv = dup.hv
),
cover AS (
  SELECT doc_id, pos,
    max(CASE WHEN pos = start THEN 1 ELSE 0 END) AS is_start
  FROM cov0 GROUP BY doc_id, pos
),
isl AS (SELECT doc_id, pos, is_start,
          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM cover)
SELECT doc_id, min(pos) AS span_start, max(pos) AS span_end,
  cast(count(*) as bigint) AS span_tokens,
  cast(sum(is_start) as bigint) AS n_dup_grams
FROM isl GROUP BY doc_id, grp"""


SPAN_GRAM_VIEW = "__doc_span_gram"
TOKEN_POS_VIEW = "__doc_token_pos"


def _tpos_from_t(d: Dialect) -> str:
    """Positional token relation ``tpos(doc_id, pos, tok)`` derived
    from an in-scope ``t(doc_id, toks)`` CTE — the ONE template shared
    by the materialized token plane (ensure_token_view) and the
    self-contained docs_span_scrub oracle, so the Spark plane and the
    DuckDB rendering can never drift apart."""
    tst = d.struct_(("pos", "i"), ("tok", d.elem("toks", "i")))
    tarr = d.transform(d.seq("1", d.arr_len("toks")), "i", tst)
    return f"""tp AS (SELECT doc_id, {d.explode(tarr)} AS s FROM t
       WHERE {d.arr_len('toks')} >= 1),
tpos AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM tp)"""


@session_plane("token")
def ensure_token_view(spark, key: object = None) -> str:
    """Materialize the positional token plane ``__doc_token_pos``
    (doc_id, pos, tok) once per (session, dataset) — the cheap prefix
    consumed directly by the token-relation queries (tfidf,
    commonness) and layered under the span-gram plane
    (ensure_span_views). Split from the gram plane so token-only
    consumers don't pay for the char-fold gram hashing they never
    read."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    d = SPARK
    # ONE template (the _tpos_from_t the scrub oracle inlines) —
    # a hand-restated copy here could silently desync the
    # materialized Spark plane from the DuckDB oracle
    materialize_plane_df(spark.sql(
        f"WITH t AS (SELECT doc_id, {d.tokens('text')} AS toks "
        f"FROM documents),\n{_tpos_from_t(d)}\n"
        f"SELECT doc_id, pos, tok FROM tpos"), TOKEN_POS_VIEW)
    return TOKEN_POS_VIEW


@session_plane("span", deps=("gram_fold",))
def ensure_span_views(spark, key: object = None) -> str:
    """Materialize the POSITIONAL gram plane once per (session,
    dataset): ``__doc_span_gram`` (doc_id, pos, hv — the {SPAN_GRAM}-
    gram combinator over per-token hashes). It reads only the gram-fold
    plane; docs_span_scrub, the one span consumer that also reads the
    token plane, declares that plane itself. The char-fold token
    hashing is the expensive interpreted prefix shared by
    dedup_span_exact and docs_span_scrub; building it once is the same
    build-once-index step as ensure_shingle_view."""
    # kernel twin of _span_gram_cte (r12): same rows, exact
    # modular arithmetic, no interpreted char fold — the SQL
    # template stays the oracle/test reference, and the kernel is
    # pinned row-equal to it by test_span_kernel_matches_sql;
    # since r13 the rows come from the fused fold plane's
    # stream-{SPAN_GRAM} slice (one tokenize+fold pass shared with
    # the shingle/contamination planes)
    kdf = gram_fold_stream_df(spark, SPAN_GRAM, with_pos=True)
    materialize_plane_df(kdf, SPAN_GRAM_VIEW)
    return SPAN_GRAM_VIEW


def docs_span_scrub(d: Dialect, base: str | None = None) -> str:
    """The curation ACTION for duplicated spans: rebuild each affected
    document's text with cross-doc duplicated token runs cut, keeping
    the one copy in the lowest doc_id that contains the gram (Lee et
    al. 2021 keep-one-occurrence rule). Output one row per doc that
    lost tokens: the scrubbed text plus before/after token counts —
    the pre-ship transform a dedup pass actually applies, where
    dedup_span_exact is the report.

    Same positional-gram plane as dedup_span_exact; the cut set is
    every token position covered by a duplicated gram occurrence
    OUTSIDE that gram's keeper doc, MINUS positions covered by any
    gram this doc IS keeper for. The protection clause is what makes
    the keep-one-copy guarantee hold under overlap: when doc A's cut
    region (it lost gram G to a lower doc) overlaps a gram H that A
    keeps, the overlapping tokens survive in A — without it, two
    overlapping grams with different keepers could erase a duplicated
    run from EVERY document. Every duplicated gram's tokens therefore
    survive intact in its keeper doc. Text rebuild is an order-
    deterministic concat over kept positions (ordered_concat), so the
    output string is engine-exact.

    Scale posture (100 TB): relations exchanged are token-positional
    (24-byte rows) until the final per-doc concat, which groups by
    doc_id (one shuffle, combinable count aggregates ride along). The
    cover explode adds x{SPAN_GRAM} rows on duplicated grams only —
    bounded by the same DF cap as the report."""
    if base is not None:
        tpos_cte = f"tpos AS (SELECT doc_id, pos, tok FROM {TOKEN_POS_VIEW})"
    else:
        tpos_cte = _tpos_from_t(d)
    return f"""WITH {_span_gram_cte(d, base)},
dup AS (SELECT hv, min(doc_id) AS keeper_doc FROM g GROUP BY hv
        HAVING count(DISTINCT doc_id) BETWEEN 2 AND {SPAN_DF_CAP}),
cov0 AS (
  SELECT g.doc_id,
    CASE WHEN g.doc_id = dup.keeper_doc THEN 1 ELSE 0 END AS kept,
    {d.explode(d.seq('g.pos', f'g.pos + {SPAN_GRAM} - 1'))} AS pos
  FROM g JOIN dup ON g.hv = dup.hv
),
cover AS (
  SELECT doc_id, pos FROM cov0
  GROUP BY doc_id, pos HAVING max(kept) = 0
),
{tpos_cte},
marked AS (
  SELECT tpos.doc_id, tpos.pos, tpos.tok,
    CASE WHEN cover.pos IS NULL THEN 0 ELSE 1 END AS cut
  FROM tpos LEFT JOIN cover
    ON cover.doc_id = tpos.doc_id AND cover.pos = tpos.pos
)
SELECT doc_id,
  cast(count(*) as bigint) AS n_tokens,
  cast(sum(cut) as bigint) AS n_removed,
  coalesce({d.ordered_concat("CASE WHEN cut = 0 THEN tok END", "pos")}, '')
    AS clean_text
FROM marked GROUP BY doc_id
HAVING sum(cut) > 0"""


BLOOM_BITS = 1 << 14   # filter width m (16384 bits, 63 usable bits per word so the shift never hits the int64 sign bit)
BLOOM_K = 4            # hash functions
# independent affine hashes over the content poly-hash: (hv*A + B) % P % m.
# A*hv stays under 2^63 (hv < P ~ 1e9, A ~ 1e9).
BLOOM_SALTS = ((1_000_003, 17), (999_983, 291), (1_000_033, 7919),
               (999_979, 104729))


DOCHASH_VIEW = "__doc_content_hv"


@session_plane("doc_content_hv")
def ensure_dochash_view(spark, key: object = None) -> str:
    """Materialize the per-document content poly-hash plane (doc_id,
    source, hv) once per (session, dataset): the char-fold hash is an
    interpreted lambda over every character, and the bloom prefilter
    references the relation from both its filter-build and its
    exact-membership arms — under CTE inlining each reference would
    re-hash the corpus (same build-once discipline as
    ensure_shingle_view)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    materialize_plane_df(spark.sql(
        f"SELECT doc_id, source, {SPARK.poly_hash('text')} AS hv "
        f"FROM documents"), DOCHASH_VIEW)
    return DOCHASH_VIEW


MINHASH_PAIRS_VIEW = "__minhash_pairs"


@session_plane("minhash_pairs", deps=("shingle", "minhash_sigs"))
def ensure_minhash_pairs_view(spark, key: object = None) -> str:
    """Materialize the MinHash-LSH near-dup pair graph (doc_a, doc_b,
    jaccard) once per (session, dataset) — the shared input of
    incremental dedup, the per-source rate report, the cross-split /
    cross-lingual rollups, the LSH recall gate's approximate arm,
    PageRank forensics, and the connected-components machinery. On a
    cluster this is the persisted pair table every downstream consumer
    joins (pairs are near-dup-sized, tiny vs the corpus); locally a
    localCheckpoint. Consumers that reference the pair relation twice
    (the symmetrized union in dedup_incremental, the endpoint union in
    docs_dedup_rate_by_source) would otherwise re-run the whole
    band-join pipeline per CTE reference under Spark inlining."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    base = ensure_shingle_view(spark, key=key)
    # r13: signatures come from the shared sigs plane (banding-
    # independent; also read by the LSH query, the band-tuning
    # ladder, and the estimator audit)
    materialize_plane_df(spark.sql(dedup_minhash_lsh(
        SPARK, base, mh_view=ensure_minhash_sigs_view(spark, key))),
        MINHASH_PAIRS_VIEW)
    return MINHASH_PAIRS_VIEW


def _pairs_cte(d: Dialect, pairs_view: str | None) -> str:
    """The MinHash pair relation body: the materialized pairs view
    (Spark session plane) when given, else the inline self-contained
    pipeline (DuckDB oracle, standalone tests)."""
    if pairs_view is not None:
        return f"SELECT doc_a, doc_b, jaccard FROM {pairs_view}"
    return dedup_minhash_lsh(d)


def dedup_bloom_prefilter(d: Dialect, base: str | None = None) -> str:
    """Bloom-filter membership prefilter for incremental dedup: build a
    {BLOOM_BITS}-bit filter over the EXISTING corpus' content hashes
    (every source except '{INCREMENTAL_BATCH_SOURCE}'), probe each doc
    of the incoming batch, and report the bloom verdict next to exact
    membership. Completes the mergeable-sketch family (HLL distinct,
    approx quantiles, heavy hitters -> membership): ``bit_or`` word
    aggregation is associative, so per-partition partial filters merge
    map-side, and re-building tomorrow's filter is a merge of
    yesterday's words with the delta's. Spark's native BloomFilter
    aggregate is not SQL-exposed (verified: no ``bloom_filter_agg`` /
    ``might_contain`` in the 4.x registry), so the filter is a plain
    relation (word_idx, bits) built with {BLOOM_K} affine hashes over
    the 64-bit content poly-hash.

    Scale posture (100 TB): the filter relation is {BLOOM_BITS}/64 rows
    regardless of corpus size — broadcast to every probe task; the
    batch side probes with a {BLOOM_K}-row-per-doc broadcast join and
    NEVER shuffles the corpus. The ``exact_in_corpus`` truth arm is
    keyed on md5(text) — the same 128-bit collision-nil key the exact
    dedup rungs use — NOT on the ~30-bit probe poly-hash, whose
    collisions would fabricate "exact" membership at corpus scale
    (expected |batch|·|corpus|/1e9 false hits). The guarantee that
    makes a prefilter sound: no false negatives — ``exact_in_corpus``
    implies ``bloom_maybe`` (same text ⇒ same probe hash;
    pytest-pinned); false positives only cost a
    wasted exact check downstream. At real scale, size m ~ 10 bits per
    corpus key for ~1% FP and keep the same plan shape."""
    probes = ", ".join(
        f"(hv * {a} + {b}) % {P_MOD} % {BLOOM_BITS} AS p{i}"
        for i, (a, b) in enumerate(BLOOM_SALTS))
    parr = d.arr_lit([f"p{i}" for i in range(BLOOM_K)])
    # the k probe positions EXPLODE from one array — a UNION ALL
    # branch per probe would re-evaluate the corpus poly-hash CTE per
    # branch under both engines' CTE inlining (measured 2.0s -> 0.7s
    # at sf0.1)
    probe_rows = f"SELECT doc_id, {d.explode(parr)} AS pos FROM bprobe"
    one = "cast(1 as bigint)"
    k_body = (f"SELECT doc_id, source, hv FROM {base}" if base is not None
              else f"SELECT doc_id, source, {d.poly_hash('text')} AS hv "
                   f"FROM documents")
    return f"""WITH k AS (
  {k_body}
),
corpus AS (SELECT * FROM k WHERE source <> '{INCREMENTAL_BATCH_SOURCE}'),
batch  AS (SELECT * FROM k WHERE source =  '{INCREMENTAL_BATCH_SOURCE}'),
cpos AS (
  SELECT {probes} FROM corpus
),
cbits AS (
  SELECT {d.explode(parr)} AS pos FROM cpos
),
words AS (
  SELECT {d.idiv('pos', '63')} AS word_idx,
         bit_or({d.shl(one, 'pos % 63')}) AS bits
  FROM cbits GROUP BY {d.idiv('pos', '63')}
),
bprobe AS (
  SELECT doc_id, {probes} FROM batch
),
hits AS (
  SELECT pr.doc_id,
    CASE WHEN (coalesce(w.bits, 0) & {d.shl(one, 'pr.pos % 63')}) <> 0
         THEN 1 ELSE 0 END AS hit
  FROM ({probe_rows}) pr
  LEFT JOIN words w ON w.word_idx = {d.idiv('pr.pos', '63')}
),
verdict AS (
  SELECT doc_id, cast(min(hit) = 1 as boolean) AS bloom_maybe
  FROM hits GROUP BY doc_id
),
ck AS (
  SELECT doc_id, source, md5(text) AS ckey FROM documents
)
SELECT v.doc_id, v.bloom_maybe,
  cast(c.ckey IS NOT NULL as boolean) AS exact_in_corpus
FROM verdict v
JOIN ck b ON b.doc_id = v.doc_id
LEFT JOIN (SELECT DISTINCT ckey FROM ck
           WHERE source <> '{INCREMENTAL_BATCH_SOURCE}') c
  ON c.ckey = b.ckey"""


INCREMENTAL_BATCH_SOURCE = "src0"  # the "incoming crawl" slice in tests


def dedup_incremental(d: Dialect, pairs_view: str | None = None) -> str:
    """Incremental (batch-vs-corpus) dedup: each document of the
    incoming batch (``source = '{INCREMENTAL_BATCH_SOURCE}'``) gets a
    verdict against the EXISTING corpus (every other source) —
    ``exact_dup`` (content hash already present), ``near_dup``
    (a Jaccard-verified MinHash pair links it to a corpus doc), or
    ``new`` — plus the smallest matching corpus doc_id. This is the
    operation a continuously-ingesting pipeline actually runs: dedup
    the day's crawl against 100 TB WITHOUT re-deduping the 100 TB.

    Scale posture: the corpus side's md5 keys and MinHash band
    signatures are a precomputed, persisted index in a real deployment
    — only the (small) batch computes signatures fresh, and both
    probe joins broadcast the batch side, so the corpus is never
    reshuffled. This template recomputes both sides (test scale); the
    join/verdict shape is identical. Near-dup candidates reuse
    :func:`dedup_minhash_lsh` (band join + Jaccard verify + hot-band
    star guard) so the two operators share one signature pipeline."""
    pairs = _pairs_cte(d, pairs_view)
    return f"""WITH mh_pairs AS (
{pairs}
),
batch AS (
  SELECT doc_id, md5(text) AS ck FROM documents
  WHERE source = '{INCREMENTAL_BATCH_SOURCE}'
),
corpus AS (
  SELECT doc_id, md5(text) AS ck FROM documents
  WHERE source <> '{INCREMENTAL_BATCH_SOURCE}'
),
exact AS (
  SELECT b.doc_id, min(c.doc_id) AS match_id
  FROM batch b JOIN corpus c ON c.ck = b.ck
  GROUP BY b.doc_id
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM mh_pairs
  UNION ALL
  SELECT doc_b, doc_a FROM mh_pairs
),
near AS (
  SELECT s.a AS doc_id, min(s.b) AS match_id
  FROM sym s
  JOIN batch bb ON bb.doc_id = s.a
  JOIN corpus cc ON cc.doc_id = s.b
  GROUP BY s.a
)
SELECT b.doc_id,
  CASE WHEN e.match_id IS NOT NULL THEN 'exact_dup'
       WHEN n.match_id IS NOT NULL THEN 'near_dup'
       ELSE 'new' END AS verdict,
  coalesce(e.match_id, n.match_id) AS matched_doc
FROM batch b
LEFT JOIN exact e ON e.doc_id = b.doc_id
LEFT JOIN near n ON n.doc_id = b.doc_id"""


def dedup_simhash(d: Dialect, base: str | None = None) -> str:
    """28-bit frequency-weighted SimHash (Charikar) over 3-gram shingle
    hashes — shingle weighting keeps the bits decorrelated where a
    small shared unigram vocabulary would collapse them. Candidates
    share at least one of 4 exact 7-bit bands (pigeonhole: any pair
    within hamming 3 shares a clean band); verify popcount(xor) <= 3.
    Output: (doc_a, doc_b, hamming)."""
    toks = d.tokens("text")
    shingles = d.shingles("toks", 3)
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN {d.bit('hv', i)} = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS))
    assemble = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN cast({1 << i} as bigint) ELSE 0 END)"
        for i in range(SIMHASH_BITS))
    mask = (1 << SIMHASH_BAND_BITS) - 1
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    band_strs = [
        f"concat_ws(':', '{k}', "
        f"cast({d.bitslice('sh', k * SIMHASH_BAND_BITS, mask)} as string))"
        for k in range(n_bands)]
    if d.name == "spark":
        band_arr = "array(" + ", ".join(band_strs) + ")"
    else:
        band_arr = "[" + ", ".join(band_strs) + "]"
    hamming = f"bit_count({d.xor('a.sh', 'b.sh')})"
    if base is not None:
        # the weighting needs the OCCURRENCE-level plane — a
        # distinct-shingle view would silently drop the frequency
        # weights and desync the signature from the oracle
        _require_shingle_base(base, "occurrence-level")
        prefix = f"WITH th AS (SELECT doc_id, hv FROM {base})"
    else:
        prefix = f"""WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
e AS (SELECT doc_id, {d.explode(shingles)} AS tok FROM t),
th AS (SELECT doc_id, {d.poly_hash('tok')} AS hv
       FROM e)"""
    return f"""{prefix},
bits AS (
  SELECT doc_id,
    {bit_sums}
  FROM th GROUP BY doc_id
),
s AS (SELECT doc_id, {assemble} AS sh FROM bits),
bands AS (SELECT doc_id, sh, {d.explode(band_arr)} AS band_sig FROM s),
cand AS (
  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
    cast({hamming} as bigint) AS hamming
  FROM bands a JOIN bands b
    ON a.band_sig = b.band_sig AND a.doc_id < b.doc_id
  WHERE {hamming} <= {SIMHASH_MAX_HAMMING}
)
SELECT ia AS doc_a, ib AS doc_b, hamming FROM cand"""


def dedup_embedding_cosine(d: Dialect) -> str:
    """Embedding-cosine near-dup pairs, blocked by the LEARNED KMeans
    cell (clusterops.kmeans_assign) — the block key that exists at
    100 TB, where no metadata label does and the blocks must track the
    actual embedding geometry (SemDeDup's published fix for the N²
    blow-up). Candidate count is Σ|c|² over cells, never N²; ``asg``
    names a materialized assignment view (the train-once path), None
    inlines the training chain (the self-contained oracle form).
    Cosine is the fixed-order fold — cross-engine exact; norms are
    precomputed per vector, not per pair.

    The metadata-label-blocked form this operator shipped with in
    rounds 1-2 survives as :func:`dedup_embedding_cosine_label_blocked`
    — the small-scale pytest oracle that measures what the learned
    blocks recall (tests/test_extensions.py)."""
    from aws_trusted_advisor_explorer_spark.operators.clusterops import (
        _member_cte,
    )

    cos = d.dot("a.embedding", "b.embedding")
    return f"""WITH {_member_cte(d)},
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    {cos} / (a.nrm * b.nrm) AS cosine
  FROM mv a JOIN mv b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= {COSINE_DUP_THRESHOLD}"""


def dedup_embedding_cosine_label_blocked(d: Dialect) -> str:
    """The label-blocked variant (block key = the fixture's metadata
    label column): valid only when a trustworthy partition label
    exists, so it is NOT the default operator — it is the small-scale
    ORACLE the cluster-blocked default is measured against (the labels
    generated the planted near-dups, so this blocking has recall 1 on
    the fixture by construction)."""
    cos = d.dot("a.embedding", "b.embedding")
    nrm = d.dot("embedding", "embedding")
    return f"""WITH v AS (
  SELECT vec_id, label, embedding, sqrt({nrm}) AS nrm FROM embeddings
),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    {cos} / (a.nrm * b.nrm) AS cosine
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= {COSINE_DUP_THRESHOLD}"""


def dedup_embedding_cosine_df(spark, key: object = None):
    """Spark twin of :func:`dedup_embedding_cosine`, routed through
    the materialized cluster index (clusterops.ensure_cluster_views):
    the within-cell pair relation is the SAME Arrow-kernel join
    SemDeDup materializes once per session (ensure_semdedup_pairs),
    re-filtered at COSINE_DUP_THRESHOLD — train once, consume from
    every embedding-dedup operator. The pandas cosine kernel replays
    the SQL fold's IEEE op order, so doubles (and the oracle hash)
    are bit-identical (functions/vectorized.py)."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.operators import clusterops as C

    # the shared pair plane is cut at the SemDeDup threshold; reusing
    # it is only a filter when our threshold is at least as high (a
    # bare assert would vanish under PYTHONOPTIMIZE and silently drop
    # pairs — same rationale as the PREFIX_T guard)
    if COSINE_DUP_THRESHOLD < C.COSINE_SEM_THRESHOLD:
        raise ValueError(
            f"COSINE_DUP_THRESHOLD {COSINE_DUP_THRESHOLD} must be >= "
            f"COSINE_SEM_THRESHOLD {C.COSINE_SEM_THRESHOLD}: the shared "
            f"SemDeDup pair plane is cut at the latter, so a lower dedup "
            f"threshold cannot be served by filtering it")
    C.ensure_cluster_views(spark, key=key)
    pairs = C.ensure_semdedup_pairs(spark, key=key)
    return (pairs.filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
            .select("vec_a", "vec_b", "cosine"))


def dedup_clusters_df(spark, pairs_view: str):
    """Near-dup CLUSTER assignment: connected components over the
    MinHash pair graph, as iterative min-label propagation on
    DataFrames (the Spark-native CC algorithm — each round is one
    join + groupBy, state persists in executors, converges in
    O(cluster diameter) rounds). Output: (doc_id, cluster_id) for
    every doc that appears in at least one near-dup pair, cluster_id
    = min doc_id of the component.

    Cost discipline for the loop (matters at 1000-executor scale just
    as much as on local[32], where per-job scheduling overhead
    dominates this graph):
    - the pair graph is read from the materialized pairs plane
      (``pairs_view``), so no round replays the MinHash pipeline;
    - round 0 is folded into initialization (label = min(id,
      min neighbor)) — one aggregation instead of a full round;
    - each round runs exactly ONE job: the changed-count action
      materializes the persisted new labels, with the previous label
      carried alongside so no extra old-vs-new join is needed.

    The DuckDB oracle (dedup_clusters_oracle) computes the same
    components by recursive-CTE transitive closure — tractable at
    oracle scale, quadratic at 100 TB, which is exactly why the Spark
    side iterates instead."""
    from pyspark.sql import functions as F

    pairs = spark.table(pairs_view).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b")))
    # init = one propagation step: label(v) = min(v, min over neighbors)
    persisted = (edges.groupBy(F.col("doc_a").alias("id"))
                 .agg(F.min("doc_b").alias("mn"))
                 .select("id", F.least("id", "mn").alias("label"))
                 .persist())
    labels = persisted
    for _ in range(50):  # bound >> any real component diameter here
        nbr = (edges.join(labels, edges["doc_b"] == labels["id"])
               .groupBy("doc_a").agg(F.min("label").alias("nbr_label")))
        new_persisted = (labels.join(nbr, labels["id"] == nbr["doc_a"], "left")
                         .select(labels["id"],
                                 labels["label"].alias("old_label"),
                                 F.least(labels["label"],
                                         F.coalesce(nbr["nbr_label"],
                                                    labels["label"]))
                                 .alias("label")).persist())
        changed = new_persisted.filter(
            F.col("label") != F.col("old_label")).count()
        persisted.unpersist()
        persisted = new_persisted
        labels = new_persisted.select("id", "label")
        if changed == 0:
            break
    else:
        persisted.unpersist()
        raise RuntimeError(
            "dedup_clusters: min-label propagation did not converge in 50 "
            "rounds (component diameter exceeds the bound); partial labels "
            "would silently diverge from the transitive-closure oracle")
    # break the multi-iteration lineage (so downstream actions replay a
    # flat scan, not the whole loop) and release the loop's cached state
    result = labels.select(F.col("id").alias("doc_id"),
                           F.col("label").alias("cluster_id")) \
        .localCheckpoint(eager=True)
    persisted.unpersist()
    return result


def dedup_clusters_oracle(d: Dialect) -> str:
    """Recursive-CTE transitive closure over the same MinHash pairs."""
    pairs = dedup_minhash_lsh(d)
    # outer CTE names must not collide with the nested minhash SQL's own
    # CTEs (t/e/sh/...) — WITH RECURSIVE scoping lets the outer names
    # shadow inner references in DuckDB
    return f"""WITH RECURSIVE cc_pairs AS (
{pairs}
),
cc_edges AS (
  SELECT doc_a AS a, doc_b AS b FROM cc_pairs
  UNION
  SELECT doc_b, doc_a FROM cc_pairs
),
cc_reach(a, b) AS (
  SELECT a, b FROM cc_edges
  UNION
  SELECT r.a, g.b FROM cc_reach r JOIN cc_edges g ON r.b = g.a
)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id
FROM cc_reach GROUP BY a"""


def docs_span_coverage(d: Dialect, base: str | None = None) -> str:
    """Span-dedup COVERAGE report: one row quantifying how much of the
    corpus sits inside cross-document duplicated spans — affected doc
    count, span count, duplicated-token total, corpus-token total, and
    the duplicated share (single division of exact bigints). The
    measurement that decides whether running the span-scrub pass (the
    expensive token-granularity rung) is worth it on a given corpus.

    Scale posture: composes the span relation (already DF-capped and
    positional — see dedup_span_exact) with one corpus token count;
    both sides aggregate to scalars before meeting, so the final join
    is 1x1."""
    spans = dedup_span_exact(d, base)
    n_toks = d.arr_len(d.tokens("text"))
    return f"""WITH spans AS (
{spans}
),
s AS (
  SELECT cast(count(DISTINCT doc_id) as bigint) AS n_docs_affected,
    cast(count(*) as bigint) AS n_spans,
    cast(coalesce(sum(span_tokens), 0) as bigint) AS dup_tokens
  FROM spans
),
tot AS (
  SELECT cast(count(*) as bigint) AS n_docs,
    cast(sum({n_toks}) as bigint) AS n_tokens
  FROM documents
)
SELECT tot.n_docs, s.n_docs_affected, s.n_spans, tot.n_tokens,
  s.dup_tokens,
  CASE WHEN tot.n_tokens = 0 THEN cast(NULL as double)
       ELSE cast(s.dup_tokens as double) * 100 / tot.n_tokens
  END AS dup_token_pct
FROM s CROSS JOIN tot"""


def docs_near_dedup_apply_oracle(d: Dialect) -> str:
    """Oracle for the near-dup dedup ACTION: every document with its
    cluster (NULL for singletons) and the keep verdict — keep-lowest-id
    per component (cluster_id IS the component min, so keeper ≡
    doc_id = cluster_id)."""
    return f"""WITH cl AS (
{dedup_clusters_oracle(d)}
)
SELECT dd.doc_id, cl.cluster_id,
  (cl.cluster_id IS NULL OR dd.doc_id = cl.cluster_id) AS keep
FROM documents dd LEFT JOIN cl ON cl.doc_id = dd.doc_id"""


def docs_near_dedup_apply_df(spark, pairs_view: str):
    """The near-dup dedup ACTION (the step that produces the actual
    drop list): MinHash pair graph → connected components
    (dedup_clusters_df's iterative min-label propagation) → keep the
    lowest doc_id per component, emit EVERY document with its cluster
    and verdict so the drop set is auditable — completing the
    detect→cluster→apply chain the way docs_span_scrub completes
    span-dedup and docs_curation_pipeline completes exact dedup.

    Scale posture (100 TB): the cluster relation is near-dup-sized
    (tiny vs the corpus) → broadcast left join onto documents' id
    projection; the keeper rule is a pure expression because the
    component label IS the component min id. Oracle = recursive-CTE
    closure + the same rule."""
    from pyspark.sql import functions as F

    clusters = dedup_clusters_df(spark, pairs_view)
    docs = spark.sql("SELECT doc_id FROM documents")
    return (docs.join(F.broadcast(clusters), "doc_id", "left")
            .selectExpr(
                "doc_id", "cluster_id",
                "(cluster_id IS NULL OR doc_id = cluster_id) AS keep"))


def docs_dedup_savings_oracle(d: Dialect) -> str:
    """Oracle for the dedup-savings report: one row quantifying what
    the near-dup drop list saves — doc and exact token totals before/
    after, and the saving percentages (single divisions of exact
    bigints)."""
    n_toks = d.arr_len(d.tokens("text"))
    return f"""WITH verdicts AS (
{docs_near_dedup_apply_oracle(d)}
),
t AS (
  SELECT v.doc_id, v.keep, cast({n_toks} as bigint) AS n_toks
  FROM verdicts v JOIN documents dd ON dd.doc_id = v.doc_id
)
SELECT
  cast(count(*) as bigint) AS n_docs,
  cast(count(CASE WHEN keep THEN 1 END) as bigint) AS n_docs_kept,
  cast(sum(n_toks) as bigint) AS n_tokens,
  cast(sum(CASE WHEN keep THEN n_toks ELSE 0 END) as bigint)
    AS n_tokens_kept,
  CASE WHEN count(*) = 0 THEN cast(NULL as double)
       ELSE cast(count(CASE WHEN NOT keep THEN 1 END) as double)
            * 100 / count(*) END AS doc_savings_pct,
  CASE WHEN sum(n_toks) = 0 THEN cast(NULL as double)
       ELSE cast(sum(CASE WHEN NOT keep THEN n_toks ELSE 0 END) as double)
            * 100 / sum(n_toks) END AS token_savings_pct
FROM t"""


def docs_dedup_savings_df(spark, pairs_view: str):
    """The dedup business case in one row: how many documents and
    exact tokens the near-dup drop list removes — the number a
    curation run reports before committing the deletion. Composes the
    apply verdicts (broadcast-sized) with the corpus token counts; one
    map-side-combining aggregate. Oracle = the same rollup over the
    recursive-CTE closure."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK as d

    verdicts = docs_near_dedup_apply_df(spark, pairs_view)
    toks = spark.sql(
        f"SELECT doc_id, cast({d.arr_len(d.tokens('text'))} as bigint) "
        f"AS n_toks FROM documents")
    t = verdicts.join(toks, "doc_id")
    return t.agg(
        F.expr("cast(count(*) as bigint)").alias("n_docs"),
        F.expr("cast(count(CASE WHEN keep THEN 1 END) as bigint)")
        .alias("n_docs_kept"),
        F.expr("cast(sum(n_toks) as bigint)").alias("n_tokens"),
        F.expr("cast(sum(CASE WHEN keep THEN n_toks ELSE 0 END) as bigint)")
        .alias("n_tokens_kept"),
        F.expr("CASE WHEN count(*) = 0 THEN cast(NULL as double) "
               "ELSE cast(count(CASE WHEN NOT keep THEN 1 END) as double) "
               "* 100 / count(*) END").alias("doc_savings_pct"),
        F.expr("CASE WHEN sum(n_toks) = 0 THEN cast(NULL as double) "
               "ELSE cast(sum(CASE WHEN NOT keep THEN n_toks ELSE 0 END) "
               "as double) * 100 / sum(n_toks) END")
        .alias("token_savings_pct"))


def docs_dedup_rate_by_source(d: Dialect,
                              pairs_view: str | None = None) -> str:
    """Per-source near-dup rate report: for each ``source``, the doc
    count, how many docs appear in at least one MinHash near-dup pair,
    and the dup rate — the standard curation dashboard for deciding
    which ingest feeds are dirtiest before reweighting or re-crawling.

    Composes the MinHash pair graph (with the session-materialized
    shingle view on the Spark side); the per-source rollup adds one
    small aggregation over documents keyed by doc_id — the pair set is
    tiny relative to the corpus, so the extra join is dimension-sized.
    """
    pairs = _pairs_cte(d, pairs_view)
    return f"""WITH mh_pairs AS (
{pairs}
),
dup_docs AS (
  SELECT doc_a AS doc_id FROM mh_pairs
  UNION
  SELECT doc_b FROM mh_pairs
)
SELECT s.source,
  cast(count(*) as bigint) AS n_docs,
  cast(count(dd.doc_id) as bigint) AS n_dup_docs,
  cast(count(dd.doc_id) as double) / count(*) AS dup_rate
FROM documents s LEFT JOIN dup_docs dd ON dd.doc_id = s.doc_id
GROUP BY s.source"""


PAGERANK_ITERS = 3
PR_SCALE = 1_000_000_000       # rank fixed-point scale
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100   # damping 0.85 as an exact rational


def dedup_graph_pagerank(d: Dialect, pairs_view: str | None = None) -> str:
    """PageRank over the near-dup graph (MinHash pairs as undirected
    edges): high-rank nodes are the HUBS of duplication — boilerplate
    templates and mirror centers that pairwise lists bury. The corpus-
    forensics query you run before choosing what to hand-inspect.

    Power iteration is UNROLLED (PAGERANK_ITERS stages, the kmeans
    pattern) in FIXED-POINT integer arithmetic: ranks are bigints at
    scale 1e9, per-edge contributions use integer division, damping is
    the exact rational 85/100 — no double accumulation, so both
    engines agree bit-for-bit. Mass lost to integer floors is uniform
    across engines by construction. Every node of this graph has
    degree >= 1 (edges are doubled), so there are no dangling nodes.

    Scale posture (100 TB): the edge relation is pair-graph-sized
    (<< corpus); each iteration is one groupBy(dst) with map-side
    combine over edges joined to the rank vector — the degree relation
    is reused across iterations. The iterative-DataFrame form of the
    same loop with a convergence test is dedup_clusters_df's pattern;
    the unrolled form keeps the whole plan one Catalyst job and gives
    the DuckDB oracle the identical template."""
    pairs = (f"SELECT doc_a, doc_b FROM {pairs_view}" if pairs_view
             else dedup_minhash_lsh(d))
    base_rank = d.idiv(
        f"cast({PR_SCALE} as bigint) * ({PR_DAMP_DEN} - {PR_DAMP_NUM})",
        str(PR_DAMP_DEN))
    parts = [f"""pr AS (
{pairs}
),
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM pr
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pr
),
deg AS (SELECT src, cast(count(*) as bigint) AS d FROM e GROUP BY src),
r0 AS (SELECT src AS node, cast({PR_SCALE} as bigint) AS rank FROM deg)"""]
    for i in range(1, PAGERANK_ITERS + 1):
        contrib = d.idiv("r.rank", "g.d")
        damped = d.idiv(f"{PR_DAMP_NUM} * sum({contrib})", str(PR_DAMP_DEN))
        parts.append(f"""r{i} AS (
  SELECT e.dst AS node,
    cast({base_rank} + {damped} as bigint) AS rank
  FROM e
  JOIN r{i - 1} r ON r.node = e.src
  JOIN deg g ON g.src = e.src
  GROUP BY e.dst
)""")
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT r.node AS doc_id, r.rank AS rank_scaled, g.d AS degree
FROM r{PAGERANK_ITERS} r JOIN deg g ON g.src = r.node"""


def dedup_graph_pagerank_df(spark, pairs_view: str):
    """Spark-side PageRank entry: iterate over the MATERIALIZED pair
    relation ``pairs_view`` (the session pair-graph plane,
    ensure_minhash_pairs_view) — Spark inlines CTEs, so the SQL form
    would re-run the whole minhash pipeline for every reference to the
    edge list (2 directions x {PAGERANK_ITERS} iterations). The
    persisted-edge-list-then-iterate split is exactly how a cluster
    runs it; the self-contained SQL stays as the DuckDB oracle (values
    identical — pytest)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK as SD

    return spark.sql(dedup_graph_pagerank(SD, pairs_view=pairs_view))


def dedup_lsh_recall(d: Dialect, pairs_view: str | None = None,
                     common_view: str | None = None) -> str:
    """MinHash-LSH acceptance gate: recall/precision of the banded LSH
    pair set vs the exact shared-shingle Jaccard join at the same
    threshold — the dedup counterpart of ``knn_recall_at_k`` (an
    approximate index ships only with its measured quality).

    The two pair relations are compared in ONE full-outer equi-join on
    (doc_a, doc_b); counts and the recall/precision ratios come out of
    a single aggregate over it. Note the truth side drops shingles with
    document frequency > NGRAM_DF_CAP (its hot-shingle guard) while the
    LSH side hashes all shingles, so near-threshold pairs can
    legitimately differ between the sets; that disagreement is exactly
    what this report measures. Zero-pair corpora emit NULL ratios
    rather than dividing by zero.

    Scale posture (100 TB): both inputs are pair-graph-sized (tiny
    relative to the corpus — near-dup pairs, not the cross product),
    so the outer join and the final one-row aggregate are negligible
    next to the candidate generation they audit; on the Spark side the
    truth arm reads the materialized pair aggregate (``common_view``)
    and the LSH arm the materialized pair graph (``pairs_view``).
    """
    truth = dedup_ngram_jaccard(d, common_view=common_view)
    lsh = _pairs_cte(d, pairs_view)
    return f"""WITH truth AS (
{truth}
),
lsh AS (
{lsh}
),
m AS (
  SELECT t.doc_a AS ta, l.doc_a AS la
  FROM truth t FULL OUTER JOIN lsh l
    ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
)
SELECT
  cast(count(ta) as bigint) AS n_true_pairs,
  cast(count(la) as bigint) AS n_lsh_pairs,
  cast(count(CASE WHEN ta IS NOT NULL AND la IS NOT NULL THEN 1 END)
       as bigint) AS n_hit_pairs,
  CASE WHEN count(ta) = 0 THEN cast(NULL as double)
       ELSE cast(count(CASE WHEN ta IS NOT NULL AND la IS NOT NULL
                       THEN 1 END) as double) / count(ta) END AS recall,
  CASE WHEN count(la) = 0 THEN cast(NULL as double)
       ELSE cast(count(CASE WHEN ta IS NOT NULL AND la IS NOT NULL
                       THEN 1 END) as double) / count(la) END AS precision_
FROM m"""


BAND_LADDER = (2, 4, 8, 16)  # n_bands grid at N_PERM perms (r = 8,4,2,1)


def _band_tuning_summary_sql(b: int, lsh_rel: str, truth_rel: str) -> str:
    """One config row of the band-tuning report: LSH pairs (carrying
    the pre-verify candidate count) left-joined to truth, collapsed to
    a single aggregate row — shared text so the self-contained oracle
    and the DF twin's SQL arms cannot drift."""
    return f"""SELECT cast({b} as bigint) AS n_bands,
    cast({N_PERM // b} as bigint) AS rows_per_band,
    cast(coalesce(max(l.n_cand), 0) as bigint) AS n_candidates,
    cast(count(*) as bigint) AS n_pairs,
    cast(count(t.doc_a) as bigint) AS n_hits
  FROM {lsh_rel} l LEFT JOIN {truth_rel} t
    ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b"""


def dedup_band_tuning(d: Dialect) -> str:
    """The dedup plane's measured RUNG-TUNING table (the
    knn_serving_report counterpart; SCALE.md's rung-selection table
    holds the analytic S-curve — this measures it on THIS corpus):
    run the SAME {N_PERM}-perm MinHash signatures through the band
    ladder {BAND_LADDER} (rows-per-band 8/4/2/1) and emit per config
    the pre-verify candidate-pair count (the cost the banding
    controls), the verified pair count, and exact-integer-ppm
    recall/precision against the exact shared-shingle truth at the
    same threshold. More bands at fixed perms is the recall knob
    (1-(1-J^r)^b monotone in b), paid for in candidates — this table
    is the per-corpus price list.

    n_candidates is read off the verified rows (the count rides the
    candidate relation as one window — dedup_minhash_lsh's
    with_cand_count rule), so a config whose candidates ALL fail
    verification reports 0 for both — a dead rung's cost column is
    moot. Zero-truth corpora report NULL-free integer ppm against a
    floor of 1.

    Scale posture (100 TB): each config is one banded candidate join
    (never all-pairs); truth and the per-config pair sets are
    pair-graph-sized, so the summary joins are negligible. The
    REGISTERED Spark form is :func:`dedup_band_tuning_df` — this
    self-contained SQL references truth once per config, which DuckDB
    MATERIALIZED-hints and Spark CTE inlining would re-evaluate
    (docs_kmv_source_overlap rule), so it is the oracle."""
    truth = dedup_ngram_jaccard(d)
    ctes = [f"truth {d.cte_as()} (\n{truth}\n)"]
    summaries = []
    for b in BAND_LADDER:
        lsh = dedup_minhash_lsh(d, n_perm=N_PERM, n_bands=b,
                                with_cand_count=True)
        ctes.append(f"l{b} AS (\n{lsh}\n)")
        summaries.append(f"  {_band_tuning_summary_sql(b, f'l{b}', 'truth')}")
    union = "\n  UNION ALL\n".join(summaries)
    cte_block = ",\n".join(ctes)
    return f"""WITH {cte_block},
tn AS (SELECT cast(count(*) as bigint) AS n_truth FROM truth),
s AS (
{union}
)
SELECT s.n_bands, s.rows_per_band, s.n_candidates, s.n_pairs, s.n_hits,
  tn.n_truth,
  cast({d.idiv('(s.n_hits * 1000000)', 'greatest(tn.n_truth, 1)')}
    as bigint) AS recall_ppm,
  cast({d.idiv('(s.n_hits * 1000000)', 'greatest(s.n_pairs, 1)')}
    as bigint) AS precision_ppm
FROM s CROSS JOIN tn"""


def dedup_band_tuning_df(spark, base: str, common_view: str, mh_view: str):
    """Registered Spark form of :func:`dedup_band_tuning`: the exact
    truth pair set is a scan of the pair-aggregate plane
    (``common_view``; the oracle's per-config truth references
    re-evaluate under Spark CTE inlining), each band config runs its
    CANDIDATE generation exactly once off the signature plane
    (``mh_view``), the exact-Jaccard verify join
    (the expensive shingle-level stage) runs ONCE over the UNION of
    the ladder's candidate sets instead of once per config (r12
    optimization, guide §2.4 — a pair's verification is config-
    independent, so per-config verified sets are candidate-set
    semi-joins against the one verified relation; measured 5.3 s ->
    ~2.6 s at sf0.1, 4 shingle-verify joins -> 1), and the per-config
    summaries assemble in-plan (left joins onto a literal config
    relation — one row per config even when a config returns nothing;
    no driver collect). The n_candidates-is-0-when-no-pair-verifies
    quirk of the SQL form (max over verified rows of the ridden count)
    is preserved explicitly."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    # the truth arm is a plane scan + ratio filter
    truth = spark.sql(dedup_ngram_jaccard(
        SPARK, common_view=common_view)).select("doc_a", "doc_b")
    t_hit = truth.withColumn("hit", F.lit(1))
    # the signature relation is banding-independent: every config
    # reads the one materialized sigs plane (4x the signature groupBy
    # otherwise — measured 6.5 s -> ~3 s at sf0.1)
    # ONE band explode / bucket-stats / candidate self-join for the
    # whole ladder: every config's band signatures carry a config
    # prefix (so buckets never merge across configs and BAND_CAP stays
    # per-config), and the config id rides the row — 4 candidate
    # pipelines (12 exchanges) collapse to 1 (3 exchanges). Candidate
    # SETS are identical to the per-config pipelines' by construction
    # (same signature slices, same cap rule, prefix-disjoint buckets).
    structs = []
    for b in BAND_LADDER:
        r = N_PERM // b
        for band in range(b):
            cols = ", ".join(f"cast(m{band * r + j} as string)"
                             for j in range(r))
            structs.append(
                f"named_struct('cfg', cast({b} as bigint), 'sig', "
                f"concat_ws(':', '{b}', '{band}', {cols}))")
    arr = "array(" + ",\n    ".join(structs) + ")"
    cands = spark.sql(f"""WITH b2 AS (
  SELECT doc_id, e.cfg AS cfg, e.sig AS band_sig
  FROM (SELECT doc_id, explode({arr}) AS e FROM {mh_view}) x
),
bs AS (
  SELECT band_sig, count(*) AS bn, min(doc_id) AS hub
  FROM b2 GROUP BY band_sig
)
SELECT DISTINCT cfg AS n_bands, ia, ib FROM (
  SELECT a.cfg, a.doc_id AS ia, b.doc_id AS ib
  FROM b2 a
  JOIN bs ON bs.band_sig = a.band_sig AND bs.bn <= {BAND_CAP}
  JOIN b2 b ON b.band_sig = a.band_sig AND a.doc_id < b.doc_id
  UNION ALL
  SELECT x.cfg, bs.hub AS ia, x.doc_id AS ib
  FROM b2 x
  JOIN bs ON bs.band_sig = x.band_sig AND bs.bn > {BAND_CAP}
  WHERE x.doc_id <> bs.hub
) u""")
    # candidate sets are near-dup-pair-sized (BAND_CAP bounds bucket
    # fan-out); materialize once — both the distinct-pair verify input
    # and the per-config rollups read them
    cands = cands.localCheckpoint(eager=False)
    # verify via the per-doc array intersect (r12 second pass: the
    # pairs x shingles join ran ~|pairs|*s rows through a hash
    # aggregate — measured 1.6 s of the report's 4.3 s; the array form
    # is two skinny joins + one codegen'd intersect per pair, same
    # integers, same division — see _pair_array_verify_df)
    verified = (_pair_array_verify_df(
                    spark, cands.select("ia", "ib").distinct(), base)
                .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
                .select("ia", "ib"))
    per_cand = cands.groupBy("n_bands").agg(
        F.count("*").alias("cand_total"))
    per_pair = (cands.join(verified, ["ia", "ib"])
                .join(t_hit.withColumnRenamed("doc_a", "ia")
                      .withColumnRenamed("doc_b", "ib"),
                      ["ia", "ib"], "left")
                .groupBy("n_bands")
                .agg(F.count("*").alias("n_pairs"),
                     F.count("hit").alias("n_hits")))
    configs = spark.createDataFrame(
        [(b, N_PERM // b) for b in BAND_LADDER],
        schema="n_bands long, rows_per_band long")
    s = (configs.join(per_cand, "n_bands", "left")
         .join(per_pair, "n_bands", "left")
         .selectExpr(
             "n_bands", "rows_per_band",
             # the SQL form reads n_candidates off the verified rows
             # (max of the ridden count) — zero verified pairs report 0
             "CASE WHEN coalesce(n_pairs, 0) = 0 THEN cast(0 as bigint) "
             "ELSE cast(coalesce(cand_total, 0) as bigint) END"
             " AS n_candidates",
             "cast(coalesce(n_pairs, 0) as bigint) AS n_pairs",
             "cast(coalesce(n_hits, 0) as bigint) AS n_hits"))
    tn = truth.agg(F.count("*").alias("n_truth"))
    return (s.crossJoin(tn)
            .withColumn("recall_ppm", F.expr(
                "cast((n_hits * 1000000) div greatest(n_truth, 1) "
                "as bigint)"))
            .withColumn("precision_ppm", F.expr(
                "cast((n_hits * 1000000) div greatest(n_pairs, 1) "
                "as bigint)"))
            .select("n_bands", "rows_per_band", "n_candidates",
                    "n_pairs", "n_hits", "n_truth", "recall_ppm",
                    "precision_ppm"))


MH_EST_SCALE = 1_000_000  # estimator audit reports integer ppm


def dedup_minhash_estimate(d: Dialect, pairs_view: str | None = None,
                           mh_view: str | None = None) -> str:
    """MinHash ESTIMATOR-error audit (the signature-level complement
    of :func:`dedup_lsh_recall`'s pair-level gate): for every verified
    near-dup pair, the signature-agreement Jaccard estimate
    (matching permutation minima / {N_PERM} — the textbook unbiased
    MinHash estimator) against the pair's exact verified Jaccard, as
    exact integer ppm with the absolute error. This is how you size
    n_perm: the estimator's observed error at the corpus's real
    similarity levels decides whether {N_PERM} permutations are
    enough to TRUST signatures where exact verification is too
    expensive (estimator stdev ~ sqrt(J(1-J)/n_perm)).

    Integer discipline: agreement count and ppm are exact bigints;
    the exact side ppm is floor(1e6 * jaccard) of the pair relation's
    verified double — floor-of-IEEE-division, cross-engine exact.

    Scale posture (100 TB): the signature relation is one map-side-
    combining groupBy ({N_PERM} ints per doc — dedup_minhash_lsh's mh
    stage verbatim); the audit joins it to the PAIR-GRAPH-sized
    verified relation twice on doc_id — near-dup-pairs-sized work,
    never corpus x corpus; on Spark both arms read the session-
    materialized planes."""
    mins = _minhash_mins_sql(N_PERM)
    match_sum = " + ".join(
        f"(CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END)"
        for j in range(N_PERM))
    pairs = _pairs_cte(d, pairs_view)
    est_ppm = d.idiv(f"({MH_EST_SCALE} * n_match)", str(N_PERM))
    # with mh_view (the session sigs plane, r13) the signature arm is
    # a plane scan instead of re-running the groupBy per query
    mh_body = (f"SELECT * FROM {mh_view}" if mh_view is not None
               else f"""{_shingle_cte(d)}
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id""")
    return f"""WITH pairs AS (
{pairs}
),
mh AS (
  {mh_body}
),
est AS (
  SELECT p.doc_a, p.doc_b, p.jaccard,
    cast({match_sum} as bigint) AS n_match
  FROM pairs p
  JOIN mh a ON a.doc_id = p.doc_a
  JOIN mh b ON b.doc_id = p.doc_b
)
SELECT doc_a, doc_b, n_match,
  cast({est_ppm} as bigint) AS est_ppm,
  cast(floor({MH_EST_SCALE} * jaccard) as bigint) AS exact_ppm,
  cast(abs({est_ppm}
       - cast(floor({MH_EST_SCALE} * jaccard) as bigint)) as bigint)
    AS abs_err_ppm
FROM est"""


def docs_cross_split_contamination(d: Dialect,
                                   pairs_view: str | None = None) -> str:
    """Train/test LEAKAGE audit: MinHash near-dup pairs whose endpoints
    land in different splits of ``docs_split_assign`` — the check a
    training pipeline runs after splitting, because a val/test doc with
    a near-duplicate in train silently inflates eval scores (the
    within-corpus complement of ``docs_contamination``'s external-eval
    probe).

    Output: one row per unordered split pair (canonicalized with
    least/greatest so train→test and test→train merge), with the
    near-dup pair count and a leak flag; ``n_pairs`` on the
    (train, train) row is the benign within-split mass for comparison.

    Scale posture (100 TB): the split relation is a zero-shuffle
    projection of ``documents`` and joins to the pair graph on doc_id —
    pair-graph-sized, broadcast-able; the rollup output is at most
    3x3 rows.
    """
    from aws_trusted_advisor_explorer_spark.operators.corpusops import (
        docs_split_assign,
    )

    pairs = _pairs_cte(d, pairs_view)
    return f"""WITH pairs AS (
{pairs}
),
sp AS (
{docs_split_assign(d)}
)
SELECT least(sa.split, sb.split) AS split_lo,
  greatest(sa.split, sb.split) AS split_hi,
  cast(count(*) as bigint) AS n_pairs,
  least(sa.split, sb.split) <> greatest(sa.split, sb.split) AS is_leak
FROM pairs p
JOIN sp sa ON sa.doc_id = p.doc_a
JOIN sp sb ON sb.doc_id = p.doc_b
GROUP BY least(sa.split, sb.split), greatest(sa.split, sb.split)"""


def docs_cross_lingual_pairs(d: Dialect, pairs_view: str | None = None) -> str:
    """Cross-LINGUAL near-dup mining: MinHash pairs rolled up by the
    language pair of their endpoints (canonical least/greatest order)
    with a cross-language flag — same-content different-lang pairs are
    translation/transliteration candidates (parallel-corpus mining),
    while a high same-lang count is ordinary duplication. Mirrors
    docs_cross_split_contamination's shape with the lang dimension.

    Scale posture: pair-graph-sized join onto two zero-shuffle lang
    projections; ≤ lang² output rows."""
    pairs = _pairs_cte(d, pairs_view)
    return f"""WITH pairs AS (
{pairs}
)
SELECT least(la.lang, lb.lang) AS lang_lo,
  greatest(la.lang, lb.lang) AS lang_hi,
  cast(count(*) as bigint) AS n_pairs,
  least(la.lang, lb.lang) <> greatest(la.lang, lb.lang) AS is_cross_lingual
FROM pairs p
JOIN documents la ON la.doc_id = p.doc_a
JOIN documents lb ON lb.doc_id = p.doc_b
GROUP BY least(la.lang, lb.lang), greatest(la.lang, lb.lang)"""


WINNOW_W = 4              # gram positions per winnow window
WINNOW_POS_SHIFT = 2 ** 31  # (hv, pos) -> one int64 window key (no overflow
#                             while BOTH bounds hold: hv < P_MOD < 2^30 gives
#                             hv*SHIFT < 2^61, and pos < 2^31 keeps the
#                             position term in range — a doc with >= 2^31
#                             grams would flip the rightmost-min tie decode;
#                             unreachable for any real document, but the
#                             invariant is two-sided, not hv-only)
WINNOW_DF_CAP = 64        # drop fingerprints shared by more docs than this


def _winnow_fp_cte(d: Dialect, base: str | None = None) -> str:
    """Robust-winnowing fingerprint relation ``fp(doc_id, ng, hv,
    pos)`` (Schleimer, Wilkerson & Aiken 2003, the MOSS algorithm)
    over the positional {SPAN_GRAM}-gram plane: slide a window of
    {WINNOW_W} consecutive gram positions over each document and
    select, per window, the minimal gram hash — rightmost occurrence
    on ties. The tie rule here is the STATELESS rightmost-min variant
    (selection depends only on window content, never on what earlier
    windows chose), which is what makes it one order-independent
    window expression in SQL and bit-identical across engines; it
    selects a superset of Schleimer's stateful rule, so the detection
    guarantee is unchanged and density is at most slightly higher
    than the stateful 2/(w+1) expectation.

    Encoding: the window minimum is taken over the single int64 key
    ``hv * SHIFT + (SHIFT-1-pos)`` — min key is min hv, and among
    equal hv the MAX pos (rightmost) — then decoded back to (hv,
    pos). Documents with fewer than {WINNOW_W} grams get one whole-
    doc window (the last ROWS frame, pos = ng) so every gram-bearing
    doc yields at least one fingerprint.

    Scale posture (100 TB): one window pass partitioned by doc_id —
    co-partitioned with the gram plane, no global sort, no join; the
    output is ~2/(w+1) the gram plane's size by the winnowing density
    bound, which is the whole point: downstream overlap joins run on
    the thinned fingerprint relation, never the full gram relation."""
    shift = WINNOW_POS_SHIFT
    ca = d.cte_as()
    return f"""{_span_gram_cte(d, base)},
wk AS (
  SELECT doc_id, pos,
    count(*) OVER (PARTITION BY doc_id) AS ng,
    min(hv * {shift} + ({shift} - 1 - pos)) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS wmin
  FROM g
),
sel AS (
  SELECT DISTINCT doc_id, ng, wmin FROM wk
  WHERE pos >= {WINNOW_W} OR (ng < {WINNOW_W} AND pos = ng)
),
fp {ca} (
  SELECT doc_id, cast(ng as bigint) AS ng,
    {d.idiv('wmin', str(shift))} AS hv,
    cast({shift} - 1 - (wmin % {shift}) as bigint) AS pos
  FROM sel
)"""


def docs_winnow_fingerprints(d: Dialect, base: str | None = None) -> str:
    """Per-document winnowing-fingerprint report: gram count, selected
    fingerprint count, and achieved density — the sizing audit you run
    before building a fingerprint index (MOSS-style substring search /
    near-dup candidate generation) over a corpus. Robust winnowing
    guarantees any shared token run of at least
    ``WINNOW_W + SPAN_GRAM - 1`` tokens ({WINNOW_W}+{SPAN_GRAM}-1)
    leaves a common selected hash in both documents, at an expected
    index size of ~2/(w+1) of the gram count — ``density`` is the
    measured ratio, the number that prices the index at 100 TB.

    Scale posture: the fingerprint CTE's single co-partitioned window
    pass plus a doc-keyed aggregate — same exchange key throughout,
    text and grams never leave their partitions."""
    return f"""WITH {_winnow_fp_cte(d, base)}
SELECT doc_id,
  cast(max(ng) as bigint) AS n_grams,
  cast(count(*) as bigint) AS n_fingerprints,
  cast(count(*) as double) / max(ng) AS density
FROM fp GROUP BY doc_id"""


def dedup_winnow_overlap(d: Dialect, fpc_view: str | None = None) -> str:
    """Substring-overlap CANDIDATE pairs via shared winnowing
    fingerprints — the sub-linear companion of
    :func:`dedup_span_exact`: where the span operator localizes every
    duplicated run by joining the FULL gram relation on itself, this
    rung equi-joins only the winnowed ~2/(w+1) fingerprint sample,
    with the Schleimer et al. guarantee that any cross-doc run of at
    least {WINNOW_W}+{SPAN_GRAM}-1 tokens still surfaces (each doc
    contains a full window inside the shared run, and rightmost-min
    selection over identical window content picks the identical gram
    hash in both). Emits each candidate pair with its shared-
    fingerprint count and fingerprint-Jaccard — a curation pass then
    verifies bytes before cutting, the same candidates-then-verify
    shape as the MinHash rung.

    Scale posture (100 TB): the pair join runs on the fingerprint
    relation after a document-frequency cap ({WINNOW_DF_CAP}) drops
    boilerplate fingerprints — fan-out per hash is df-bounded exactly
    like the capped shingle join; the per-doc fingerprint counts ride
    ``fpc`` as ONE window column instead of a separate size dim, so
    the self-join's two sides are the ONLY references to the winnowed
    chain (each extra reference would re-run the window pass +
    DF cap under CTE inlining). The full gram relation is never
    self-joined. Every shared fingerprint makes a candidate — the
    Schleimer guarantee needs exactly one, so there is no min-shared
    knob to tune.

    ``fpc_view``: name of a PRE-MATERIALIZED capped fingerprint
    relation (the wired Spark path, :func:`dedup_winnow_overlap_df`) —
    ``AS MATERIALIZED`` is DuckDB-only, so without it Spark's CTE
    inlining re-ran the winnow chain once per self-join side."""
    ca = d.cte_as()
    if fpc_view is not None:
        head = f"""WITH fpc AS (
  SELECT doc_id, hv, nfp FROM {fpc_view}
)"""
    else:
        head = f"""WITH {_winnow_fp_cte(d)},
fpd {ca} (SELECT DISTINCT doc_id, hv FROM fp),
keep AS (SELECT hv FROM fpd GROUP BY hv
         HAVING count(*) <= {WINNOW_DF_CAP}),
fpc {ca} (
  SELECT f.doc_id, f.hv,
    cast(count(*) OVER (PARTITION BY f.doc_id) as bigint) AS nfp
  FROM fpd f JOIN keep k ON k.hv = f.hv
)"""
    return f"""{head}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  cast(count(*) as bigint) AS n_shared_fp,
  a.nfp AS n_fp_a, b.nfp AS n_fp_b,
  cast(count(*) as double) / (a.nfp + b.nfp - count(*)) AS fp_jaccard
FROM fpc a JOIN fpc b ON b.hv = a.hv AND b.doc_id > a.doc_id
GROUP BY a.doc_id, b.doc_id, a.nfp, b.nfp"""


WINNOW_FPC_VIEW = "__winnow_fpc"


def dedup_winnow_overlap_df(spark, base: str):
    """Wired Spark path of :func:`dedup_winnow_overlap`: compute the
    DF-capped winnowed fingerprint relation ONCE (lazy localCheckpoint
    — materialized inside this query's own execution, not a session
    plane, so the bench row still pays for the winnow pass), then run
    the identical self-join tail over the materialized view. Same rows
    as the self-contained form (the tail SQL is the same builder
    text)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    ca = SPARK.cte_as()
    fpc = spark.sql(f"""WITH {_winnow_fp_cte(SPARK, base)},
fpd {ca} (SELECT DISTINCT doc_id, hv FROM fp),
keep AS (SELECT hv FROM fpd GROUP BY hv
         HAVING count(*) <= {WINNOW_DF_CAP})
SELECT f.doc_id, f.hv,
  cast(count(*) OVER (PARTITION BY f.doc_id) as bigint) AS nfp
FROM fpd f JOIN keep k ON k.hv = f.hv""").localCheckpoint(eager=False)
    fpc.createOrReplaceTempView(WINNOW_FPC_VIEW)
    return spark.sql(dedup_winnow_overlap(SPARK, fpc_view=WINNOW_FPC_VIEW))


BUILDERS = {
    "dedup_graph_pagerank": dedup_graph_pagerank,
    "dedup_exact_groups": dedup_exact_groups,
    "dedup_exact_flags": dedup_exact_flags,
    "dedup_exact_normalized": dedup_exact_normalized,
    "dedup_span_exact": dedup_span_exact,
    "dedup_bloom_prefilter": dedup_bloom_prefilter,
    "docs_span_scrub": docs_span_scrub,
    "dedup_incremental": dedup_incremental,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_band_tuning": dedup_band_tuning,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_prefix_join": dedup_prefix_join,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "docs_dedup_rate_by_source": docs_dedup_rate_by_source,
    "dedup_lsh_recall": dedup_lsh_recall,
    "dedup_minhash_estimate": dedup_minhash_estimate,
    "docs_cross_split_contamination": docs_cross_split_contamination,
    "docs_cross_lingual_pairs": docs_cross_lingual_pairs,
    "docs_span_coverage": docs_span_coverage,
    "docs_winnow_fingerprints": docs_winnow_fingerprints,
    "dedup_winnow_overlap": dedup_winnow_overlap,
}
