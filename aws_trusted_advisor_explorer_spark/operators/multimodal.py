"""Multimodal-column plumbing (extension scope per BASELINE.json):
image/audio/video as opaque ``binary`` payloads with typed metadata.

The media table is derived deterministically from ``documents`` (the
payload is the UTF-8 text bytes — a stand-in for real media bytes that
keeps every stat oracle-checkable). Two paths:

- ``media_inventory`` — pure-SQL stats over the binary column
  (dual-dialect, DuckDB-oracled).
- ``media_byte_stats`` — the Arrow/Pandas-UDF path: ``mapInPandas``
  batches of (doc_id, payload) -> numpy byte statistics. This is the
  real plumbing a decode/resize/frame-sample stage runs on; the DuckDB
  oracle recomputes the same stats from the character codes, proving
  the UDF path end-to-end. A deployment with real media swaps a
  library decoder (PIL, soundfile, PyAV) into the same stage.

Scale posture: payloads stay in executors (never collected); at 100 TB
the media table is read via ``spark.read.format("binaryFile")`` or
parquet with the same (id, payload, media_type, meta) schema, and the
Pandas-UDF stages stream Arrow batches — constant memory per task.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType, LongType, StructField, StructType,
)

from aws_trusted_advisor_explorer_spark.functions.dual import Dialect
# registers the dedup planes the pair-release plane declares as deps
from aws_trusted_advisor_explorer_spark.operators import corpusops, dedup
from aws_trusted_advisor_explorer_spark.session import (
    materialize_plane_df, session_plane,
)

MEDIA_TYPE_CASE = ("CASE doc_id % 3 WHEN 0 THEN 'image' "
                   "WHEN 1 THEN 'audio' ELSE 'video' END")

BYTE_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("byte_mean", DoubleType()),
    StructField("byte_min", LongType()),
    StructField("byte_max", LongType()),
])


def media_df(spark: SparkSession) -> DataFrame:
    """The media table: binary payload + typed metadata columns."""
    return spark.sql(f"""
        SELECT doc_id,
               cast(text as binary) AS payload,
               {MEDIA_TYPE_CASE} AS media_type,
               md5(text) AS checksum
        FROM documents""")


def media_inventory(d: Dialect) -> str:
    """Per-media-type asset counts, byte totals, distinct checksums —
    pure SQL over the binary column in both engines."""
    blob = d.to_blob("text")
    return f"""WITH m AS (
  SELECT doc_id, {blob} AS payload,
    {MEDIA_TYPE_CASE} AS media_type,
    md5(text) AS checksum
  FROM documents
)
SELECT media_type,
  count(*) AS n_assets,
  cast(sum(octet_length(payload)) as bigint) AS total_bytes,
  cast(count(DISTINCT checksum) as bigint) AS n_distinct_payloads
FROM m
GROUP BY media_type"""


def _byte_stats_batches(batches: "Iterator") -> "Iterator":
    import numpy as np
    import pandas as pd

    for pdf in batches:
        # NULL payloads carry no bytes to profile — skipped here AND
        # filtered by the oracle's text IS NOT NULL (np.frombuffer
        # would otherwise TypeError and fail the task on one NULL row)
        pdf = pdf[pdf["payload"].notna()]
        payloads = pdf["payload"]
        arrs = [np.frombuffer(p, dtype=np.uint8).astype(np.int64)
                for p in payloads]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].astype("int64"),
            "n_bytes": [len(a) for a in arrs],
            "byte_mean": [float(a.sum()) / len(a) if len(a) else 0.0
                          for a in arrs],
            "byte_min": [int(a.min()) if len(a) else 0 for a in arrs],
            "byte_max": [int(a.max()) if len(a) else 0 for a in arrs],
        })


def media_byte_stats_df(spark: SparkSession) -> DataFrame:
    """Arrow-batched ``mapInPandas`` byte statistics over the payload
    column — the template every real decode stage follows."""
    media = media_df(spark).select("doc_id", "payload")
    return media.mapInPandas(_byte_stats_batches, BYTE_STATS_SCHEMA)


def media_byte_stats_oracle(d: Dialect) -> str:
    """DuckDB oracle for the Pandas-UDF path: the payload is the UTF-8
    bytes of ASCII text, so byte stats == character-code stats. The sum
    is exact integer arithmetic; the single final division matches the
    numpy float64 division bit-for-bit."""
    codes = d.transform(d.chars("text"), "ch", "cast(ascii(ch) as bigint)")
    total = d.fold(codes, "cast(0 as bigint)", "a", "b", "a + b")
    # empty text matches the kernel's zero-fill (mean 0.0, min/max 0)
    # instead of NULL/DIVIDE_BY_ZERO; NULL text matches the kernel's
    # skip — the same empty/NULL rules as the sibling oracles
    return f"""SELECT doc_id,
  cast(length(text) as bigint) AS n_bytes,
  CASE WHEN length(text) = 0 THEN cast(0 as double)
       ELSE cast({total} as double) / length(text) END AS byte_mean,
  CASE WHEN length(text) = 0 THEN cast(0 as bigint)
       ELSE cast({d.arr_min(codes)} as bigint) END AS byte_min,
  CASE WHEN length(text) = 0 THEN cast(0 as bigint)
       ELSE cast({d.arr_max(codes)} as bigint) END AS byte_max
FROM documents WHERE text IS NOT NULL"""


def media_dedup_exact(d: Dialect) -> str:
    """Exact media dedup by payload checksum: one row per duplicated
    binary payload, with keeper = min doc_id and the count of DISTINCT
    media_type labels sharing those bytes (``n_types > 1`` flags "same
    bytes ingested under different modalities" — a real corpus-hygiene
    signal). The shuffle key is the 128-bit checksum, never the
    payload; at 100 TB the checksum is computed once at ingest and
    stored as asset metadata, making this a metadata-only groupBy."""
    return f"""WITH m AS (
  SELECT doc_id, md5(text) AS checksum, {MEDIA_TYPE_CASE} AS media_type
  FROM documents
)
SELECT checksum, min(doc_id) AS keeper_id,
  cast(count(*) as bigint) AS n_copies,
  cast(count(DISTINCT media_type) as bigint) AS n_types
FROM m GROUP BY checksum HAVING count(*) > 1"""


N_HIST_BINS = 16      # byte-histogram feature dimension (256 / 16)
FRAME_STRIDE = 32     # sample one "frame" byte every 32 payload bytes

FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("bin", LongType()),
    StructField("n", LongType()),
    StructField("frac", DoubleType()),
])

FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_no", LongType()),
    StructField("frame_val", LongType()),
])


def _feature_batches(batches: "Iterator") -> "Iterator":
    import numpy as np
    import pandas as pd

    for pdf in batches:
        ids, bins, ns, fracs = [], [], [], []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            if p is None:  # same NULL rule as _byte_stats_batches
                continue
            a = np.frombuffer(p, dtype=np.uint8)
            if not len(a):
                continue
            hist = np.bincount(a // N_HIST_BINS,
                               minlength=256 // N_HIST_BINS)
            for b in np.nonzero(hist)[0]:
                ids.append(int(doc_id))
                bins.append(int(b))
                ns.append(int(hist[b]))
                fracs.append(float(hist[b]) / len(a))
        yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                            "bin": pd.Series(bins, dtype="int64"),
                            "n": pd.Series(ns, dtype="int64"),
                            "frac": pd.Series(fracs, dtype="float64")})


def media_feature_extract_df(spark: SparkSession) -> DataFrame:
    """The decode→featurize stage with a DETERMINISTIC fake decoder:
    a 16-bin byte histogram per payload (one row per non-empty bin) in
    place of a CNN/CLIP feature — the real extractor swaps only the
    numpy body; the Spark plumbing (Arrow batches in, long-format
    feature rows out, no payload shuffle) is exactly what a production
    embedder runs. Oracle: the same histogram from SQL char codes."""
    media = media_df(spark).select("doc_id", "payload")
    return media.mapInPandas(_feature_batches, FEATURE_SCHEMA)


def media_feature_extract_oracle(d: Dialect) -> str:
    codes = d.transform(d.chars("text"), "ch", "cast(ascii(ch) as bigint)")
    return f"""WITH c AS (
  SELECT doc_id, length(text) AS n_bytes, {d.explode(codes)} AS code
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, {d.idiv('code', str(N_HIST_BINS))} AS bin,
  cast(count(*) as bigint) AS n,
  cast(count(*) as double) / max(n_bytes) AS frac
FROM c GROUP BY doc_id, {d.idiv('code', str(N_HIST_BINS))}"""


def _frame_batches(batches: "Iterator") -> "Iterator":
    import numpy as np
    import pandas as pd

    for pdf in batches:
        ids, fnos, vals = [], [], []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            if p is None:  # same NULL rule as _byte_stats_batches
                continue
            a = np.frombuffer(p, dtype=np.uint8)[::FRAME_STRIDE]
            ids.extend([int(doc_id)] * len(a))
            fnos.extend(range(len(a)))
            vals.extend(int(v) for v in a)
        yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                            "frame_no": pd.Series(fnos, dtype="int64"),
                            "frame_val": pd.Series(vals, dtype="int64")})


def media_frame_sample_df(spark: SparkSession) -> DataFrame:
    """The 1-to-many frame-sampling stage (video shape) with a
    deterministic fake: every FRAME_STRIDE-th payload byte is a
    "frame". A real sampler swaps the numpy body for a container
    demuxer; the contract — one Arrow batch in, a row-multiplying
    frame relation out, payload never shuffled — is the production
    one. At 100 TB the output is written partitioned by doc_id range
    so per-asset frame scans stay local."""
    media = media_df(spark).select("doc_id", "payload")
    return media.mapInPandas(_frame_batches, FRAME_SCHEMA)


def media_frame_sample_oracle(d: Dialect) -> str:
    codes = d.transform(d.chars("text"), "ch", "cast(ascii(ch) as bigint)")
    n_frames = f"(1 + {d.idiv('(length(text) - 1)', str(FRAME_STRIDE))})"
    if d.name == "spark":
        fno = f"explode(sequence(0, {n_frames} - 1))"
    else:
        fno = f"unnest(range(0, {n_frames}))"
    return f"""WITH c AS (
  SELECT doc_id, {codes} AS codes, {fno} AS frame_no
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, frame_no,
  {d.elem('codes', f'cast(frame_no * {FRAME_STRIDE} + 1 as int)')}
    AS frame_val
FROM c"""


PHASH_BITS = 48          # gradient bits per payload (dHash shape)
PHASH_BAND_BITS = 8      # 6 bands; pigeonhole catches hamming <= 5
PHASH_MAX_HAMMING = 5
PHASH_VARIANT_EVERY = 25       # plant a noisy twin for every 25th doc
PHASH_VARIANT_OFFSET = 1_000_000


# the planted noisy-twin payload: two 1-byte splices (length-
# preserving)
PHASH_TWIN_SPLICE = ("substr(text, 1, 9) || '#' || substr(text, 11, 6) "
                     "|| '%' || substr(text, 18)")


def _phash_m_cte(d: Dialect) -> str:
    """CTE chain ending at ``m(doc_id, text)`` — the asset relation
    (genuine docs + planted noisy twins + the id-headroom guard) the
    gradient signature is computed over. Split out of
    :func:`_phash_sig_cte` so the Spark plane build can run the
    signature itself as an Arrow kernel over ``m`` (r13) while the
    full SQL chain stays the oracle."""
    splice = PHASH_TWIN_SPLICE
    return f"""WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE length(text) > {PHASH_BITS}
),
noisy AS (
  SELECT doc_id + {PHASH_VARIANT_OFFSET} AS doc_id, {splice} AS text
  FROM base
  WHERE doc_id % {PHASH_VARIANT_EVERY} = 0
),
chk AS (SELECT max(doc_id) AS mx FROM base),
m AS (
  SELECT b.doc_id, b.text FROM base b CROSS JOIN chk
  WHERE {d.check(
      f'mx < {PHASH_VARIANT_OFFSET}',
      'phash plane: genuine doc_id must stay below '
      'PHASH_VARIANT_OFFSET - caption pairing derives caption_id = '
      'media_id % OFFSET, so a larger id would silently alias twins '
      'onto wrong captions; raise the offset constant instead')} IS NULL
  UNION ALL
  SELECT n.doc_id, n.text FROM noisy n CROSS JOIN chk
  WHERE mx < {PHASH_VARIANT_OFFSET}
)"""


def _phash_sig_cte(d: Dialect) -> str:
    """CTE chain ending at ``s(doc_id, ph)`` — the perceptual-hash
    signature relation including the planted noisy twins. This is the
    metadata an ingest pipeline computes once (mapInPandas decode
    stage) and STORES per asset; :func:`ensure_phash_view`
    materializes it per session so the band self-join does not
    re-evaluate the whole gradient pipeline once per join side under
    CTE inlining."""
    pos_k = f"1 + {d.idiv('(k * (n - 1))', str(PHASH_BITS))}"
    pos_k1 = f"1 + {d.idiv('((k + 1) * (n - 1))', str(PHASH_BITS))}"
    return f"""{_phash_m_cte(d)},
c AS (SELECT doc_id, text, length(text) AS n FROM m),
g AS (SELECT doc_id, text, n, {d.explode(d.seq('0', str(PHASH_BITS - 1)))} AS k
      FROM c),
s AS (
  SELECT doc_id, sum(
    CASE WHEN ascii(substr(text, {pos_k}, 1))
            < ascii(substr(text, {pos_k1}, 1))
         THEN {d.shl('cast(1 as bigint)', 'k')} ELSE cast(0 as bigint) END
  ) AS ph
  FROM g GROUP BY doc_id
)"""


# r13 negative result (guide §1.3, recorded in OPTIMIZATION_r13.md):
# an Arrow-kernel twin of the g/s gradient tail (utf-32 codepoint
# comparisons per doc) measured SLOWER than the codegen'd SQL explode
# at steady state (warm min-of-4 checkpoint: SQL 0.10 s vs kernel
# 0.27 s single-task / 0.35 s repartitioned at sf0.1) — the 64-row
# explode + ascii/substr compiles into one WholeStageCodegen span and
# the Python worker round-trip costs more than it saves. Reverted;
# the SQL chain below stays the plane build.


PHASH_VIEW = "__media_phash_sig"


@session_plane("media_phash_sig")
def ensure_phash_view(spark, key: object = None) -> str:
    """Materialize the (doc_id, ph) perceptual-hash relation once per
    (session, dataset) — locally a localCheckpoint, in production the
    stored per-asset hash column the docstring above describes."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    materialize_plane_df(spark.sql(
        _phash_sig_cte(SPARK) + "\nSELECT doc_id, ph FROM s"), PHASH_VIEW)
    return PHASH_VIEW


def _phash_band_cands(d: Dialect, rel: str = "s",
                      idc: str = "doc_id") -> str:
    """The phash band-join candidate CTEs (``bands`` + ``cand``) over
    any (id, ph) relation — shared by :func:`media_phash_dedup` (media
    assets) and :func:`pairs_near_dedup` (the media side of pair-level
    dedup): candidates share one of {PHASH_BITS}//{PHASH_BAND_BITS}
    exact bands (pigeonhole catches hamming <= {PHASH_MAX_HAMMING})
    and verify popcount(xor). Metadata-only join — payloads never
    shuffle."""
    n_bands = PHASH_BITS // PHASH_BAND_BITS
    mask = (1 << PHASH_BAND_BITS) - 1
    band_strs = [
        f"concat_ws(':', '{b}', "
        f"cast({d.bitslice('ph', b * PHASH_BAND_BITS, mask)} as string))"
        for b in range(n_bands)]
    if d.name == "spark":
        band_arr = "array(" + ", ".join(band_strs) + ")"
    else:
        band_arr = "[" + ", ".join(band_strs) + "]"
    hamming = f"bit_count({d.xor('a.ph', 'b.ph')})"
    return f"""bands AS (
  SELECT {idc} AS bid, ph, {d.explode(band_arr)} AS band_sig FROM {rel}
),
cand AS (
  SELECT DISTINCT a.bid AS ia, b.bid AS ib,
    cast({hamming} as bigint) AS hamming
  FROM bands a JOIN bands b
    ON a.band_sig = b.band_sig AND a.bid < b.bid
  WHERE {hamming} <= {PHASH_MAX_HAMMING}
)"""


def media_caption_pairs(d: Dialect, base: str | None = None) -> str:
    """The paired-modality relation (the LAION shape): one (media,
    caption) pair per asset in the perceptual-hash plane, pairing
    deterministically on the shared key — ``caption_id = media_id %
    {PHASH_VARIANT_OFFSET}``, so a planted noisy media twin (id
    offset by {PHASH_VARIANT_OFFSET}) shares its ORIGINAL's caption
    document. Emits the pair with the media-side hash and the
    caption's metadata (lang, source, char length) — the relation
    pair-level curation (:func:`pairs_near_dedup`) and CLIP-style
    training both consume.

    Scale posture (100 TB): the media side is the stored per-asset
    hash plane (ids + 8-byte hashes), the caption side joins on
    doc_id and carries metadata only — neither payloads nor text
    shuffle."""
    prefix = (f"WITH s AS (SELECT doc_id, ph FROM {base})"
              if base is not None else _phash_sig_cte(d))
    return f"""{prefix}
SELECT s.doc_id AS pair_id, s.doc_id AS media_id,
  cast(s.doc_id % {PHASH_VARIANT_OFFSET} as bigint) AS caption_id,
  cast(s.ph as bigint) AS media_phash,
  dd.lang, dd.source,
  cast(length(dd.text) as bigint) AS caption_chars
FROM s JOIN documents dd
  ON dd.doc_id = s.doc_id % {PHASH_VARIANT_OFFSET}"""


def pairs_near_dedup(d: Dialect, base: str | None = None,
                     pairs_view: str | None = None) -> str:
    """PAIR-level near-dedup — the LAION-style rule: two (media,
    caption) pairs are duplicates only when BOTH modalities agree —
    the media sides share a phash band and verify hamming <=
    {PHASH_MAX_HAMMING}, AND the caption sides are the same document
    or share a MinHash band (the text near-dup pair graph). A
    media-only match (re-encoded image, different caption) or a
    caption-only match (same text, different image) survives — that
    is the paired-modality contract.

    Emits one row per duplicate pair-of-pairs: both pair ids, the
    media hamming, whether the captions are identical, and the
    caption jaccard (1.0 for identical captions, the MinHash-graph
    estimate otherwise).

    Expected on the fixture corpus: exactly the planted noisy twins —
    each twin pair (media d+{PHASH_VARIANT_OFFSET}, caption d) vs its
    original (media d, caption d) matches on the media side by
    construction (<= 4 flipped bits) and shares caption d literally.

    Scale posture (100 TB): the media band join carries (id, ph,
    band) only; the caption check is an id-equality expression plus
    one equi-join against the near-dup-sized MinHash pair relation
    (broadcast). Payloads and text never shuffle — hashes only.

    Ref parity note: no reference analog (extension plane) — the
    composition mirrors the LAION/DataComp pair-curation recipe."""
    from aws_trusted_advisor_explorer_spark.operators.dedup import _pairs_cte

    prefix = (f"WITH s AS (SELECT doc_id, ph FROM {base})"
              if base is not None else _phash_sig_cte(d))
    return f"""{prefix},
pair AS (
  SELECT doc_id AS media_id,
    cast(doc_id % {PHASH_VARIANT_OFFSET} as bigint) AS caption_id, ph
  FROM s
),
{_phash_band_cands(d, rel="pair", idc="media_id")},
tp AS (
{_pairs_cte(d, pairs_view)}
)
SELECT c.ia AS pair_a, c.ib AS pair_b, c.hamming AS media_hamming,
  cast(CASE WHEN pa.caption_id = pb.caption_id THEN 1 ELSE 0 END
       as bigint) AS caption_identical,
  cast(CASE WHEN pa.caption_id = pb.caption_id THEN 1.0
            ELSE tp.jaccard END as double) AS caption_jaccard
FROM cand c
JOIN pair pa ON pa.media_id = c.ia
JOIN pair pb ON pb.media_id = c.ib
LEFT JOIN tp
  ON tp.doc_a = least(pa.caption_id, pb.caption_id)
 AND tp.doc_b = greatest(pa.caption_id, pb.caption_id)
WHERE pa.caption_id = pb.caption_id OR tp.doc_a IS NOT NULL"""


PAIRS_PER_SHARD = 32   # samples per WebDataset pair shard (LAION-style
                       # count packing, vs the doc capstone's token budget)


def pairs_release_manifest(d: Dialect) -> str:
    """The PAIRED-MODALITY release capstone (r11 verdict task 3) — the
    LAION/DataComp handoff artifact: compose the pair universe
    (:func:`media_caption_pairs`), the pair-level near-dup drop rule
    (:func:`pairs_near_dedup`, keep-lowest: a pair is dropped iff it
    is the HIGHER pair_id of any duplicate pair-of-pairs edge — the
    semdedup drop-rule shape), and the CAPTION-side curation verdicts
    (docs_curation_pipeline keep=1, which also assigns the split);
    pack survivors into fixed-count shards per split ({PAIRS_PER_SHARD}
    pairs each, the WebDataset sample-count convention), and emit one
    manifest row per shard with exact pair/caption-token/caption-byte
    counts, an order-independent checksum PER MODALITY (bit_xor of
    the caption poly-hash; bit_xor of the media perceptual hash), and
    the pair-id range.

    Scale posture (100 TB): every join is id-keyed and skinny (pair
    ids, hashes, verdicts); caption text contributes only its token/
    byte counts and hash, computed in one scan — payloads never
    shuffle into the manifest. The per-split rank here is a window
    (the oracle form); the registered Spark twin
    (:func:`pairs_release_manifest_df`) replaces it with the
    two-phase range-partition cumsum so no split is ever globally
    sorted on one machine.

    Ref parity note: no reference analog (extension plane) — the
    composition mirrors the LAION-5B release recipe (pair dedup +
    caption filtering + fixed-count shards + per-shard metadata)."""
    lp = f"lpad({d.str_cast('shard_id')}, 5, '0')"
    return f"""WITH {_pairs_release_core(d)},
r AS (
  SELECT pair_id, media_phash, split, n_toks, n_bytes, h,
    row_number() OVER (PARTITION BY split ORDER BY pair_id) AS rk
  FROM rel
),
sh AS (
  SELECT pair_id, media_phash, split, n_toks, n_bytes, h,
    cast({d.idiv('(rk - 1)', str(PAIRS_PER_SHARD))} as bigint) AS shard_id
  FROM r
)
SELECT split, shard_id,
  'release-pairs/' || split || '/shard-' || {lp} || '.tar' AS path,
  {_pairs_manifest_agg_sql()}
FROM sh GROUP BY split, shard_id"""


def _pairs_release_core(d: Dialect) -> str:
    """The shared CTE core of the pair-release family, ending at
    ``rel(pair_id, media_phash, split, n_toks, n_bytes, h)`` — the
    surviving pair relation (pair universe ∩ pair-near-dedup keepers
    ∩ caption keep=1 with its split) joined to the caption's
    token/byte counts and content hash. The manifest packs it whole;
    the incremental refresh packs its stored/delta slices."""
    mcp = media_caption_pairs(d)
    pnd = pairs_near_dedup(d)
    n_toks = d.arr_len(d.tokens("text"))
    nbytes = ("octet_length(text)" if d.name == "spark"
              else "strlen(text)")
    return f"""mcp AS (
{mcp}
),
pnd AS (
{pnd}
),
pipe AS (
{corpusops.docs_curation_pipeline(d)}
),
drops AS (SELECT DISTINCT pair_b AS pair_id FROM pnd),
ctok AS (
  SELECT doc_id, cast({n_toks} as bigint) AS n_toks,
    cast({nbytes} as bigint) AS n_bytes, {d.poly_hash('text')} AS h
  FROM documents
),
surv AS (
  SELECT m.pair_id, m.media_id, m.caption_id, m.media_phash, p.split
  FROM mcp m
  JOIN pipe p ON p.doc_id = m.caption_id AND p.keep = 1
  LEFT JOIN drops dr ON dr.pair_id = m.pair_id
  WHERE dr.pair_id IS NULL
),
rel AS (
  SELECT s.pair_id, s.media_phash, s.split, t.n_toks, t.n_bytes, t.h
  FROM surv s JOIN ctok t ON t.doc_id = s.caption_id
)"""


def _pairs_manifest_agg_sql() -> str:
    """The pair-manifest aggregate SELECT list (engine-invariant) —
    one definition for the manifest, both refresh arms, and the
    refresh's audit recompute."""
    return """cast(count(*) as bigint) AS n_pairs,
  cast(sum(n_toks) as bigint) AS n_caption_tokens,
  cast(sum(n_bytes) as bigint) AS n_caption_bytes,
  cast(bit_xor(h) as bigint) AS caption_checksum_xor,
  cast(bit_xor(media_phash) as bigint) AS media_checksum_xor,
  cast(min(pair_id) as bigint) AS first_pair_id,
  cast(max(pair_id) as bigint) AS last_pair_id"""


def pairs_release_refresh(d: Dialect) -> str:
    """Incremental REFRESH of the pair-release manifest — the
    `docs_release_refresh` stored+delta algebra at the PAIR level,
    closing the IVM symmetry (both release capstones now have a
    nightly maintenance form): the stored manifest (surviving pairs
    at/below the id cut — the same append-only 90th-percentile batch
    rule, and pair ids ARE media/doc ids for genuine assets) merges a
    delta batch WITHOUT rescanning the snapshot. Count packing makes
    the delta's rank base ONE number per split (the stored pair
    count); counters merge additively; BOTH modality checksums merge
    by xor (associative/self-inverse); id ranges by min/max. The
    ``matches_recompute`` audit column proves the merged manifest
    equals a full recompute in-row — append-only is the load-bearing
    precondition and a violation is visible, not silent. (Planted
    twins sit above the cut numerically but are near-dup-DROPPED on
    both arms, so the surviving order stays a clean pair-id suffix.)

    Oracle form (per-split windows); the registered Spark twin is
    :func:`pairs_release_refresh_df` (two-phase count cumsum)."""
    cut = d.idiv(f"(max(doc_id) * {corpusops.RELEASE_REFRESH_NUM})",
                 str(corpusops.RELEASE_REFRESH_DEN))
    agg = _pairs_manifest_agg_sql()
    nse = (lambda a, b: f"{a} <=> {b}") if d.name == "spark" else \
        (lambda a, b: f"{a} IS NOT DISTINCT FROM {b}")
    eq = " AND ".join(
        nse(f"m.{c}", f"f.{c}")
        for c in ("n_pairs", "n_caption_tokens", "n_caption_bytes",
                  "caption_checksum_xor", "media_checksum_xor",
                  "first_pair_id", "last_pair_id"))

    def pack(src: str) -> str:
        return f"""SELECT split, shard_id, {agg} FROM (
  SELECT pair_id, media_phash, split, n_toks, n_bytes, h,
    cast({d.idiv('(rk - 1)', str(PAIRS_PER_SHARD))} as bigint)
      AS shard_id
  FROM (SELECT pair_id, media_phash, split, n_toks, n_bytes, h,
          row_number() OVER (PARTITION BY split ORDER BY pair_id)
            AS rk
        FROM {src}) r0
) s0 GROUP BY split, shard_id"""

    return f"""WITH {_pairs_release_core(d)},
cutr AS (SELECT {cut} AS cut FROM documents),
srel AS (SELECT rel.* FROM rel CROSS JOIN cutr WHERE pair_id <= cut),
drel0 AS (SELECT rel.* FROM rel CROSS JOIN cutr WHERE pair_id > cut),
sman AS (
{pack('srel')}
),
sbase AS (SELECT split, cast(count(*) as bigint) AS base
          FROM srel GROUP BY split),
dsh AS (
  SELECT pair_id, media_phash, split, n_toks, n_bytes, h,
    cast({d.idiv('(base + drk - 1)', str(PAIRS_PER_SHARD))} as bigint)
      AS shard_id
  FROM (
    SELECT d0.pair_id, d0.media_phash, d0.split, d0.n_toks,
      d0.n_bytes, d0.h, coalesce(sb.base, 0) AS base,
      row_number() OVER (PARTITION BY d0.split ORDER BY d0.pair_id)
        AS drk
    FROM drel0 d0 LEFT JOIN sbase sb ON sb.split = d0.split
  ) dd
),
dman AS (SELECT split, shard_id, {agg} FROM dsh GROUP BY split, shard_id),
merged AS (
  SELECT coalesce(s.split, dl.split) AS split,
    coalesce(s.shard_id, dl.shard_id) AS shard_id,
    coalesce(s.n_pairs, 0) + coalesce(dl.n_pairs, 0) AS n_pairs,
    coalesce(s.n_caption_tokens, 0) + coalesce(dl.n_caption_tokens, 0)
      AS n_caption_tokens,
    coalesce(s.n_caption_bytes, 0) + coalesce(dl.n_caption_bytes, 0)
      AS n_caption_bytes,
    {d.xor('coalesce(s.caption_checksum_xor, 0)',
           'coalesce(dl.caption_checksum_xor, 0)')}
      AS caption_checksum_xor,
    {d.xor('coalesce(s.media_checksum_xor, 0)',
           'coalesce(dl.media_checksum_xor, 0)')}
      AS media_checksum_xor,
    CASE WHEN s.first_pair_id IS NULL THEN dl.first_pair_id
         WHEN dl.first_pair_id IS NULL THEN s.first_pair_id
         ELSE least(s.first_pair_id, dl.first_pair_id) END
      AS first_pair_id,
    CASE WHEN s.last_pair_id IS NULL THEN dl.last_pair_id
         WHEN dl.last_pair_id IS NULL THEN s.last_pair_id
         ELSE greatest(s.last_pair_id, dl.last_pair_id) END
      AS last_pair_id,
    coalesce(s.n_pairs, 0) AS n_pairs_stored,
    coalesce(dl.n_pairs, 0) AS n_pairs_delta
  FROM sman s FULL OUTER JOIN dman dl
    ON dl.split = s.split AND dl.shard_id = s.shard_id
),
full_rc AS (
{pack('rel')}
)
SELECT coalesce(m.split, f.split) AS split,
  coalesce(m.shard_id, f.shard_id) AS shard_id,
  'release-pairs/' || coalesce(m.split, f.split) || '/shard-'
    || lpad({d.str_cast('coalesce(m.shard_id, f.shard_id)')}, 5, '0')
    || '.tar' AS path,
  m.n_pairs, m.n_caption_tokens, m.n_caption_bytes,
  m.caption_checksum_xor, m.media_checksum_xor,
  m.first_pair_id, m.last_pair_id,
  m.n_pairs_stored, m.n_pairs_delta,
  ({eq}) AS matches_recompute
FROM merged m FULL OUTER JOIN full_rc f
  ON f.split = m.split AND f.shard_id = m.shard_id"""


def pairs_release_refresh_df(spark, key: object = None):
    """The registered Spark form of :func:`pairs_release_refresh`:
    ``corpusops.release_refresh_df`` over the session ranged pair rail
    (the count rank's stored base is the stored per-split pair
    count)."""
    return corpusops.release_refresh_df(
        spark.table(ensure_pairs_release_rel_view(spark, key=key)),
        PAIR_RELEASE)


def _pairs_release_rel_df(spark, key: object = None):
    """The UNRANKED surviving pair relation (pair_id, media_id,
    caption_id, media_phash, split, n_toks, n_bytes, h) — the DataFrame twin of :func:`_pairs_release_core`'s
    ``rel``, off the session phash / MinHash-pair planes. The
    manifest ranks it whole; the refresh ranks its stored/delta
    slices separately."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    base = ensure_phash_view(spark, key=key)
    pv = dedup.ensure_minhash_pairs_view(spark, key=key)
    mcp = (spark.sql(media_caption_pairs(SPARK, base=base))
           .select("pair_id", "media_id", "caption_id", "media_phash"))
    drops = (spark.sql(pairs_near_dedup(SPARK, base=base, pairs_view=pv))
             .select(F.col("pair_b").alias("pair_id")).distinct())
    pipe = (spark.sql(corpusops.docs_curation_pipeline(SPARK))
            .filter("keep = 1").select("doc_id", "split"))
    ctok = spark.table("documents").selectExpr(
        "doc_id",
        f"cast({SPARK.arr_len(SPARK.tokens('text'))} as bigint) AS n_toks",
        "cast(octet_length(text) as bigint) AS n_bytes")
    # caption content hash from the session dochash plane (the
    # _release_rel_df rule — r12: the inline poly_hash('text') re-ran
    # the interpreted char fold over the corpus per pair-release query)
    hv = (spark.table(dedup.ensure_dochash_view(spark, key=key))
          .select(F.col("doc_id").alias("caption_id"),
                  F.col("hv").alias("h")))
    return (mcp.join(pipe.withColumnRenamed("doc_id", "caption_id"),
                     "caption_id")
            .join(drops, "pair_id", "left_anti")
            .join(ctok.withColumnRenamed("doc_id", "caption_id"),
                  "caption_id")
            .join(hv, "caption_id"))


def _pairs_manifest_agg_df(a):
    """The pair-manifest aggregate over a ranked pair relation — the
    DataFrame twin of :func:`_pairs_manifest_agg_sql`."""
    from pyspark.sql import functions as F

    return (a.groupBy("split", "shard_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.sum("n_toks").cast("bigint").alias("n_caption_tokens"),
                 F.sum("n_bytes").cast("bigint").alias("n_caption_bytes"),
                 F.expr("cast(bit_xor(h) as bigint)")
                 .alias("caption_checksum_xor"),
                 F.expr("cast(bit_xor(media_phash) as bigint)")
                 .alias("media_checksum_xor"),
                 F.min("pair_id").cast("bigint").alias("first_pair_id"),
                 F.max("pair_id").cast("bigint").alias("last_pair_id")))


# a count rank per split in pair-id order, PAIRS_PER_SHARD pairs a shard
PAIR_RELEASE = corpusops.ReleaseRail("pair_id", "1", PAIRS_PER_SHARD,
                                     _pairs_manifest_agg_df, "release-pairs")


PAIRS_RELEASE_REL_VIEW = "__pairs_release_rel_ranged"


@session_plane("pairs_release_rel_ranged",
               deps=("media_phash_sig", "minhash_pairs", "doc_content_hv"))
def ensure_pairs_release_rel_view(spark, key: object = None) -> str:
    """Materialize the pair-release rail (:func:`_pairs_release_rel_df`)
    as a ``functions.ranged.range_layout`` by (split, pair_id) once per
    (session, dataset) — the corpusops.ensure_release_rel_view plane at
    the pair level: the pair manifest and the pair refresh rank
    filtered slices of this one layout."""
    from aws_trusted_advisor_explorer_spark.functions.ranged import (
        range_layout,
    )

    materialize_plane_df(
        range_layout(_pairs_release_rel_df(spark, key=key),
                     "split", "pair_id"), PAIRS_RELEASE_REL_VIEW)
    return PAIRS_RELEASE_REL_VIEW


def pairs_release_manifest_df(spark, key: object = None):
    """The pair-release manifest as a DataFrame (the registered Spark
    form of :func:`pairs_release_manifest`):
    ``corpusops.release_manifest_df`` over the session ranged pair
    rail."""
    return corpusops.release_manifest_df(
        spark.table(ensure_pairs_release_rel_view(spark, key=key)),
        PAIR_RELEASE)


def media_phash_dedup(d: Dialect, base: str | None = None) -> str:
    """Perceptual-hash near-dup detection for media payloads — the
    dHash shape: the sign of the gradient between {PHASH_BITS}+1
    byte samples spaced evenly across the payload (sampling scales
    with length, the stream analog of dHash's resize), packed into a
    {PHASH_BITS}-bit key; candidates share one of six exact 8-bit
    bands (pigeonhole: any pair within hamming {PHASH_MAX_HAMMING}
    shares a clean band) and verify popcount(xor) <=
    {PHASH_MAX_HAMMING}.

    Positional hashes are robust to POINT noise (re-encode jitter —
    a changed byte flips at most 2 gradient bits) but not to content
    shifts, which is the correct contract for fixed-geometry media —
    token-level text dedup belongs to the MinHash/shingle family.
    Payloads of {PHASH_BITS} bytes or fewer are EXCLUDED: below one
    byte per sample the sample positions repeat and the repeated
    gradients are constant zero, so short unrelated payloads would
    collide under the verify threshold (a thumbnail-sized floor in a
    real ingest).
    Since the corpus stands in text bytes for media, noisy twins are
    PLANTED deterministically (two 1-byte splices per twin, <= 4
    flipped bits — guaranteed caught; same planted-input pattern as
    pii_scrub_text): the expected output is exactly the twin pairs,
    while unrelated payloads sit near hamming {PHASH_BITS}//2.

    Scale posture: at ingest the decode stage (mapInPandas) computes
    and STORES the hash as asset metadata; this query's inline
    char-code hash is the oracle twin of that path. The band join is
    metadata-only (doc_id, ph, band) — payloads never shuffle — and
    verification is a popcount on the joined 8-byte keys."""
    prefix = (f"WITH s AS (SELECT doc_id, ph FROM {base})"
              if base is not None else _phash_sig_cte(d))
    return f"""{prefix},
{_phash_band_cands(d)}
SELECT ia AS doc_a, ib AS doc_b, hamming FROM cand"""


BUILDERS = {
    "media_inventory": media_inventory,
    "media_dedup_exact": media_dedup_exact,
    "media_phash_dedup": media_phash_dedup,
}
