"""Corpus curation operators over ``documents`` (extension scope per
BASELINE.json): deterministic dataset splitting, token-budget sequence
packing, and global vocabulary statistics — the shard/split/pack plane
of a training-data pipeline.

Dual-dialect SQL (functions/dual.py) where SQL expresses the
semantics; the packing operator additionally has a Spark DataFrame
twin that computes the cumulative sum DISTRIBUTED (two-phase:
per-range partial sums + broadcast prefix offsets) instead of the
single-partition global window the naive SQL implies — that twin is
the 100 TB path and is tested bit-equal to the SQL form.

No reference citation — the reference (awslabs/aws-trusted-advisor-
explorer) has no corpus plane; scope directed by BASELINE.json
"north_star".
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import NamedTuple

from aws_trusted_advisor_explorer_spark.functions.dual import Dialect
from aws_trusted_advisor_explorer_spark.session import (
    materialize_plane_df, session_plane,
)

TRAIN_PCT = 80
VAL_PCT = 10  # test = remainder
PACK_BUDGET = 512  # tokens per packed shard


def _id_hash_pct(d: Dialect, salt: str = "") -> str:
    """See functions.dual.id_hash_pct (shared so the NB classifier's
    train split and this module's split/sample/cap decisions stay one
    implementation)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import id_hash_pct

    return id_hash_pct(d, "doc_id", salt)


def _split_case(pct_expr: str) -> str:
    """The one train/val/test decision rule, rendered over any percent
    expression/column. Shared by docs_split_assign,
    docs_split_token_budget, and docs_curation_pipeline so a future
    threshold or hash edit cannot silently desync the token-budget /
    pipeline reports from the shipped split (both engines render the
    same builder, so the DuckDB oracle alone can't catch that drift)."""
    return f"""CASE WHEN {pct_expr} < {TRAIN_PCT} THEN 'train'
       WHEN {pct_expr} < {TRAIN_PCT + VAL_PCT} THEN 'val'
       ELSE 'test' END"""


def docs_split_assign(d: Dialect) -> str:
    """Deterministic train/val/test assignment: hash-mod buckets, 80/10/10.
    Content-independent (id-keyed) so near-dup handling stays a separate
    concern; at 100 TB this is a pure projection — zero shuffles."""
    pct = _id_hash_pct(d)
    return f"""SELECT doc_id, {pct} AS bucket_pct,
  {_split_case(pct)} AS split
FROM documents"""


def docs_pack_bins(d: Dialect) -> str:
    """Token-budget packing: contiguous doc_id-ordered sharding where a
    new shard starts whenever the running token total crosses the
    budget — the deterministic approximation of sequence packing used
    to build fixed-token training shards. ``bin_id = floor(exclusive
    running sum / budget)``.

    The SQL form is a single global-order window (fine as an oracle;
    single-partition at scale). The Spark twin (docs_pack_bins_df)
    computes the same running sum distributed."""
    toks = f"{d.arr_len(d.tokens('text'))}"
    return f"""WITH t AS (SELECT doc_id, cast({toks} as bigint) AS n_toks FROM documents),
c AS (
  SELECT doc_id, n_toks,
    sum(n_toks) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
  FROM t
)
SELECT doc_id, n_toks,
  cast(floor(coalesce(prior, 0) / {PACK_BUDGET}) as bigint) AS bin_id
FROM c"""


def docs_pack_bins_df(spark):
    """Distributed twin of :func:`docs_pack_bins`: the running token
    total as the two-phase prefix sum of :mod:`functions.ranged` (a
    range shuffle by doc_id plus a partition-count-sized offsets
    window; no global single-partition sort). Identical integers to
    the SQL window (long addition is associative), verified by test."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.functions.ranged import (
        prefix_total, range_layout,
    )

    # ONE tokenizer definition (Dialect.tokens) — a hardcoded copy
    # here would silently diverge from the SQL twin if the token
    # regex ever changes
    t = spark.sql(
        f"SELECT doc_id, cast({SPARK.arr_len(SPARK.tokens('text'))} "
        f"as bigint) AS n_toks FROM documents")
    # materialize once: the layout feeds both the per-partition totals
    # and the final join, and without the checkpoint the tokenize fold
    # + range shuffle re-ran per consumer (no ReusedExchange under
    # AQE); 2 longs + pid per row
    ranged = range_layout(t, "doc_id").localCheckpoint(eager=False)
    return (prefix_total(ranged, ["doc_id"], F.col("n_toks"))
            .select("doc_id", "n_toks",
                    F.floor(F.col("prior") / PACK_BUDGET)
                    .cast("bigint").alias("bin_id")))


def text_vocab_topk(d: Dialect) -> str:
    """Global vocabulary heavy hitters: token -> corpus frequency +
    document frequency, top 100 by (count DESC, token ASC). One
    explode + one groupBy shuffle; the top-k is ORDER BY + LIMIT (not a
    global row_number window), which Spark executes as a distributed
    TakeOrderedAndProject — per-partition heaps merged on the driver —
    so the full vocabulary is never sorted on one partition. The rank
    column is then a window over only the 100 survivors. The exact
    form is already 100 TB-shaped: the explode feeds a map-side-
    combining groupBy (Zipf head tokens partial-aggregate before the
    exchange), the shuffle output is VOCAB-sized not corpus-sized, and
    the top-k never global-sorts — a count-min rung would only shrink
    the vocab-sized shuffle tail, and that sketch machinery is
    implemented and oracle-verified in events_cms_heavy_hitters
    (sketchops) if a deployment wants it."""
    toks = d.tokens("text")
    return f"""WITH e AS (SELECT doc_id, {d.explode(toks)} AS tok FROM documents),
g AS (
  SELECT tok, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
  FROM e GROUP BY tok
),
r AS (
  SELECT tok, n_occurrences, n_docs FROM g
  ORDER BY n_occurrences DESC, tok LIMIT 100
)
-- unpartitioned row_number is BOUNDED: it ranks only the <=100 LIMIT
-- survivors, so the single-partition WindowExec warning is accepted
SELECT tok, n_occurrences, n_docs,
  row_number() OVER (ORDER BY n_occurrences DESC, tok) AS rnk
FROM r"""


CONTAM_NGRAM = 5  # contamination shingle width (tokens)
BENCH_MOD = 50    # doc_id % 50 == 0 -> stand-in benchmark/eval set

from aws_trusted_advisor_explorer_spark.operators.dedup import (
    GRAM_FOLD_COMBI_KS as _GRAM_FOLD_KS,
)

if CONTAM_NGRAM not in _GRAM_FOLD_KS:
    # the contamination plane reads its grams from the fused fold
    # plane's stream-CONTAM_NGRAM slice (dedup.ensure_gram_fold_view);
    # a width change must update both constants
    raise ValueError(
        f"CONTAM_NGRAM {CONTAM_NGRAM} missing from dedup."
        f"GRAM_FOLD_COMBI_KS {_GRAM_FOLD_KS}")


CONTAM_VIEW = "__contam_hits_plane"


@session_plane("contam_hits_plane", deps=("gram_fold",))
def ensure_contam_view(spark, key: object = None) -> str:
    """Materialize the contaminated-hits relation (train_doc_id,
    n_shared_shingles, witness_eval_doc_id) once per (session,
    dataset): docs_contamination REPORTS it and docs_decontaminated
    ANTI-JOINS it, so without the plane the eval-shingle dim build +
    probe join + aggregate runs once for the report and again inside
    the anti-join's subquery (~1.8 s combined at sf0.1 → ~0.3 s).
    Same build-once pattern as dedup.ensure_shingle_view
    (localCheckpoint locally; a persisted table on a cluster — which
    is exactly how a production decontamination pass ships anyway:
    compute the contaminated-id list once, reuse it for the report,
    the shipping anti-join, and the audit)."""
    # the 5-gram hv relation comes from the fused fold plane's
    # stream-CONTAM_NGRAM slice (r13 — one tokenize+char-fold pass
    # shared with the shingle/span planes; r12 ran
    # dedup.make_gram_hv_kernel(CONTAM_NGRAM) standalone here);
    # the ev/tr split + probe join + aggregate stay the SQL shape
    # of docs_contamination. The self-contained SQL remains the
    # oracle and the equality reference
    # (test_contam_plane_matches_sql). Both arms read a slice of
    # the already-checkpointed fold plane, so the r12 per-build
    # localCheckpoint (which guarded against the kernel running
    # once PER ARM) is no longer needed.
    from aws_trusted_advisor_explorer_spark.operators.dedup import (
        gram_fold_stream_df,
    )

    kdf = gram_fold_stream_df(spark, CONTAM_NGRAM, with_pos=False)
    kdf.createOrReplaceTempView("__contam_gram_hv")
    materialize_plane_df(spark.sql(f"""WITH ev AS (
  SELECT hv, min(doc_id) AS witness FROM __contam_gram_hv
  WHERE doc_id % {BENCH_MOD} = 0 GROUP BY hv
),
tr AS (SELECT doc_id, hv FROM __contam_gram_hv
       WHERE doc_id % {BENCH_MOD} <> 0)
SELECT tr.doc_id AS train_doc_id,
  count(DISTINCT tr.hv) AS n_shared_shingles,
  min(ev.witness) AS witness_eval_doc_id
FROM tr JOIN ev ON ev.hv = tr.hv
GROUP BY tr.doc_id"""), CONTAM_VIEW)
    return CONTAM_VIEW


def docs_contamination(d: Dialect, base: str | None = None) -> str:
    """Benchmark contamination check: training docs sharing at least
    one {CONTAM_NGRAM}-token shingle with any eval-set document (the
    eval stand-in here is ``doc_id % {BENCH_MOD} == 0``; in production
    it is the benchmark corpus). Output: one row per contaminated
    training doc with the count of distinct contaminated shingle types
    and the lowest-id eval doc witnessing any of them — the de-facto
    standard n-gram decontamination join (GPT-3 appendix C / PaLM
    style).

    Plan shape at 100 TB: only the EVAL side (a fixed benchmark corpus,
    ~MBs) is shingled-then-grouped into a (hv -> witness) dimension;
    the training corpus's raw shingle occurrences stream map-side
    through a broadcast hash join against it, and the groupBy runs on
    the matched rows only. The 100 TB side is never globally shuffled
    or DISTINCT'd — the one wide shuffle this query ever does is over
    contaminated hits, which are rare by construction. Shingle hashes
    come from the token-hash combinator (Dialect.shingle_hvs): each
    token char-folds once and the 5 window hashes combine
    arithmetically, so no shingle strings are ever built.

    ``base``: the session-materialized hits plane (ensure_contam_view)
    — the Spark runner passes it so the report is a plane scan; the
    self-contained form below stays as the DuckDB oracle and the
    plane's own build SQL."""
    if base is not None:
        return (f"SELECT train_doc_id, n_shared_shingles, "
                f"witness_eval_doc_id FROM {base}")
    toks = d.tokens("text")
    hvs = d.shingle_hvs("toks", CONTAM_NGRAM)
    base = f"""WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
ev AS (
  SELECT hv, min(doc_id) AS witness FROM (
    SELECT doc_id, {d.explode(hvs)} AS hv
    FROM t WHERE doc_id % {BENCH_MOD} = 0
  ) GROUP BY hv
),
tr AS (SELECT doc_id, {d.explode(hvs)} AS hv
       FROM t WHERE doc_id % {BENCH_MOD} <> 0)"""
    return f"""{base}
SELECT tr.doc_id AS train_doc_id,
  count(DISTINCT tr.hv) AS n_shared_shingles,
  min(ev.witness) AS witness_eval_doc_id
FROM tr JOIN ev ON ev.hv = tr.hv
GROUP BY tr.doc_id"""


def docs_decontaminated(d: Dialect, base: str | None = None) -> str:
    """The decontaminated training set: training docs minus the
    contaminated ones — the anti-join that actually ships the corpus.
    Spark plans the NOT IN over the (rare-by-construction) contaminated
    id set as a broadcast left-anti join, so the pass over the training
    corpus stays map-side. With ``base`` (the session hits plane,
    ensure_contam_view) the contaminated-id subquery is a plane scan
    instead of re-running the whole probe join."""
    inner = (f"SELECT train_doc_id FROM {base}" if base is not None
             else f"""SELECT train_doc_id FROM (
{docs_contamination(d)}
) c""")
    return f"""SELECT doc_id FROM documents
WHERE doc_id % {BENCH_MOD} <> 0
  AND doc_id NOT IN ({inner})"""


def docs_source_mix(d: Dialect) -> str:
    """Corpus composition report: per (source, lang) document count,
    token total, and share of all corpus tokens — the mixture-weight
    table a pretraining data pipeline reports before sampling. One
    groupBy shuffle over (source, lang); the corpus-total divisor is a
    scalar subquery over the tiny aggregate, not a global window over
    rows. Token totals are exact bigints, so the shares are
    cross-engine-identical doubles."""
    n_toks = d.arr_len(d.tokens("text"))
    return f"""WITH t AS (
  SELECT source, lang, cast({n_toks} as bigint) AS n_toks FROM documents
),
g AS (
  SELECT source, lang, count(*) AS n_docs,
    cast(sum(n_toks) as bigint) AS total_tokens
  FROM t GROUP BY source, lang
)
SELECT source, lang, n_docs, total_tokens,
  CASE WHEN (SELECT sum(total_tokens) FROM g) = 0 THEN cast(NULL as double)
    ELSE cast(total_tokens as double)
      / (SELECT cast(sum(total_tokens) as bigint) FROM g)
  END AS token_share
FROM g"""


TEMP_W_SCALE = 1000  # milli units for the integer sqrt weights


def docs_temperature_mix(d: Dialect) -> str:
    """Temperature-scaled mixture weights (the multilingual-pretraining
    standard: sample source i with p_i ∝ share_i^α, α = 1/T — XLM-R /
    mC4 use α = 0.5, i.e. T = 2, which up-weights low-resource sources
    without letting them dominate). α = 0.5 is exactly ``sqrt``, and
    IEEE-754 requires sqrt to be CORRECTLY rounded — so
    ``floor(sqrt(tokens) · {TEMP_W_SCALE})`` is a deterministic integer
    in both engines, the normalizing total is an INTEGER sum (order-
    independent, unlike a float Σ), and every emitted double is one
    exact-rounded division or multiply-then-divide of deterministic
    operands. Emits per source: exact token counts/shares, the
    temperature weight, and the sampling boost
    (weight/share — > 1 means the sampler repeats this source).

    Zero guards (ANSI-safe): a token-less source gets boost 0 (it
    cannot be sampled), and an all-empty corpus zeroes every ratio
    instead of dividing by zero (Spark ANSI throws; DuckDB would NaN
    — the guard keeps the engines identical).

    Scale posture: one (source) groupBy with map-side combine; all
    later relations are source-cardinality rows (scalar-subquery
    total, no window over docs). Double products are taken after
    cast-to-double, so nothing overflows int64 regardless of corpus
    size (weights are milli-sqrt(tokens): ~3e9 at 100 TB)."""
    n_toks = d.arr_len(d.tokens("text"))
    return f"""WITH t AS (
  SELECT source, cast({n_toks} as bigint) AS n_toks FROM documents
),
g AS (
  SELECT source, cast(count(*) as bigint) AS n_docs,
    cast(sum(n_toks) as bigint) AS src_tokens
  FROM t GROUP BY source
),
w AS (
  SELECT source, n_docs, src_tokens,
    cast(floor(sqrt(cast(src_tokens as double)) * {TEMP_W_SCALE})
         as bigint) AS w_milli
  FROM g
),
tot AS (
  SELECT cast(sum(src_tokens) as bigint) AS total_tokens,
    cast(sum(w_milli) as bigint) AS total_w
  FROM w
)
SELECT w.source, w.n_docs, w.src_tokens,
  CASE WHEN tot.total_tokens = 0 THEN cast(0 as double)
    ELSE cast(w.src_tokens as double) / tot.total_tokens END AS token_share,
  CASE WHEN tot.total_w = 0 THEN cast(0 as double)
    ELSE cast(w.w_milli as double) / tot.total_w END AS temp_weight,
  CASE WHEN w.src_tokens = 0 OR tot.total_w = 0 THEN cast(0 as double)
    ELSE (cast(w.w_milli as double) * cast(tot.total_tokens as double))
      / (cast(tot.total_w as double) * cast(w.src_tokens as double))
  END AS sampling_boost
FROM w CROSS JOIN tot"""


CHUNK_TOKS = 64     # tokens per chunk
CHUNK_STRIDE = 48   # chunk start stride (overlap = CHUNK_TOKS - stride)


def chunk_parts(d: Dialect) -> tuple[str, str, str]:
    """(n_chunks, start-position, token-slice) expressions over a
    token-array column ``toks`` and a 0-based window index ``k`` —
    the SINGLE definition of the chunk geometry used by
    :func:`docs_chunking`."""
    n = d.arr_len("toks")
    n_chunks = (f"CASE WHEN {n} <= {CHUNK_TOKS} THEN 1 "
                f"ELSE {d.idiv(f'({n} - {CHUNK_TOKS} + {CHUNK_STRIDE} - 1)', str(CHUNK_STRIDE))} + 1 END")
    start = f"(k * {CHUNK_STRIDE} + 1)"
    return n_chunks, start, d.slice("toks", start, CHUNK_TOKS)


def docs_chunking(d: Dialect) -> str:
    """Fixed-size overlapping CHUNKING (the pretraining/RAG document
    splitter): each document becomes ceil((n - overlap) / stride)
    windows of {CHUNK_TOKS} tokens starting every {CHUNK_STRIDE}
    (overlap {CHUNK_TOKS - CHUNK_STRIDE}); the final window absorbs
    the tail (shorter, never empty). Output one row per chunk with
    its position, token count, and rebuilt text. A zero-token document
    emits ONE empty chunk row rather than vanishing — downstream joins
    keyed on doc_id must never silently lose documents.

    Scale posture (100 TB): a pure 1-to-many projection (tokenize →
    explode of per-doc window indexes → slice) — zero shuffles, zero
    joins; whole-stage codegen except the array lambdas. Chunk
    boundaries are token-index arithmetic, so the plan is identical
    for any document length distribution.
    """
    n_chunks, start, piece = chunk_parts(d)
    return f"""WITH t AS (
  SELECT doc_id, {d.tokens('text')} AS toks FROM documents
),
w AS (
  SELECT doc_id, toks, {d.explode(d.seq('0', f'({n_chunks}) - 1'))} AS k
  FROM t
),
c AS (
  SELECT doc_id, k AS chunk_idx, cast({start} as bigint) AS start_pos,
    {piece} AS chunk_toks
  FROM w
)
SELECT doc_id, chunk_idx, start_pos,
  cast({d.arr_len('chunk_toks')} as bigint) AS n_chunk_tokens,
  {d.arr_join('chunk_toks')} AS chunk_text
FROM c"""


# target language mixture for the balance plan: uniform across the
# languages present — the rebalancing goal a multilingual pretraining
# run states up front (any fixed target table works identically)
def docs_language_balance_plan(d: Dialect) -> str:
    """Language REBALANCING plan: given the observed per-language token
    shares and a uniform target mixture, emit each language's keep
    rate (scaled-integer, deterministic) — the sampling plan that
    downs-samples over-represented languages to the target. keep_rate
    = min(1, target_share / current_share) as an exact integer ppm
    (parts-per-million) ratio: ppm = min(1e6, (total_toks * 1e6) div
    (n_langs * lang_toks)); applying it composes with the id-hash
    decision streams (docs_importance_sample).

    Scale posture: one (lang) groupBy + a 2-scalar broadcast (total
    tokens, language count); output is language-cardinality rows.
    Int64 bound (money-sum discipline, same as docs_curation_drift):
    the ppm numerator is ``total_tokens · 1e6``, safe while the corpus
    holds under ~9.2e12 tokens; past that drop the scale to per-mille
    (both engines THROW on the overflow rather than silently wrap, so
    the bound is enforced, not assumed).
    """
    n_toks = d.arr_len(d.tokens("text"))
    return f"""WITH t AS (
  SELECT lang, cast({n_toks} as bigint) AS n_toks FROM documents
),
g AS (
  SELECT lang, cast(count(*) as bigint) AS n_docs,
    cast(sum(n_toks) as bigint) AS lang_tokens
  FROM t GROUP BY lang
),
tot AS (
  SELECT cast(sum(lang_tokens) as bigint) AS total_tokens,
    cast(count(*) as bigint) AS n_langs
  FROM g
)
SELECT g.lang, g.n_docs, g.lang_tokens,
  CASE WHEN tot.total_tokens = 0 THEN cast(NULL as double)
    ELSE cast(g.lang_tokens as double) / tot.total_tokens
  END AS current_share,
  cast(1 as double) / tot.n_langs AS target_share,
  CASE WHEN g.lang_tokens = 0 THEN cast(1000000 as bigint)
       ELSE least(cast(1000000 as bigint),
         {d.idiv('(tot.total_tokens * 1000000)', '(tot.n_langs * g.lang_tokens)')})
  END AS keep_rate_ppm
FROM g CROSS JOIN tot"""


def docs_split_token_budget(d: Dialect) -> str:
    """Per-split token BUDGET report: documents, exact token totals,
    and token share for each train/val/test split — the first question
    asked of a prepared corpus ("how many tokens does my train split
    actually hold?"), answered from the same deterministic hash-mod
    assignment the split ships with. The split CASE and the token
    count are ONE projection over documents (bucket_pct computed once
    per row in an inner select) — a join back to the split relation
    would scan the corpus twice and add a full-corpus exchange for
    what is a pure projection. Shares are single divisions of exact
    bigints, NULL-guarded for the all-zero-token corpus (Spark ANSI
    throws on /0 where DuckDB NULLs)."""
    n_toks = d.arr_len(d.tokens("text"))
    pct = _id_hash_pct(d)
    return f"""WITH t AS (
  SELECT {_split_case('bucket_pct')} AS split, n_toks
  FROM (SELECT {pct} AS bucket_pct,
          cast({n_toks} as bigint) AS n_toks FROM documents) i
),
g AS (
  SELECT split, cast(count(*) as bigint) AS n_docs,
    cast(sum(n_toks) as bigint) AS n_tokens
  FROM t GROUP BY split
)
SELECT split, n_docs, n_tokens,
  CASE WHEN (SELECT sum(n_tokens) FROM g) = 0 THEN cast(NULL as double)
    ELSE cast(n_tokens as double) /
      (SELECT cast(sum(n_tokens) as bigint) FROM g)
  END AS token_share
FROM g"""


LEN_BANDS = (16, 64, 256, 1024)  # token-count histogram edges


def docs_length_histogram(d: Dialect) -> str:
    """Token-length histogram: documents banded by integer token-count
    thresholds {LEN_BANDS} — the length-distribution diagnostic run
    before choosing packing budgets and length gates. Integer CASE
    banding (never float log-bucketing: edge values must band
    identically in both engines); one tiny groupBy."""
    n_toks = d.arr_len(d.tokens("text"))
    edges = list(LEN_BANDS)
    cases = " ".join(
        f"WHEN n_toks < {e} THEN '[{lo}, {e})'"
        for lo, e in zip([0, *edges[:-1]], edges))
    return f"""WITH t AS (
  SELECT cast({n_toks} as bigint) AS n_toks FROM documents
)
SELECT CASE {cases} ELSE '[{edges[-1]}, inf)' END AS band,
  count(*) AS n_docs,
  cast(sum(n_toks) as bigint) AS total_tokens,
  min(n_toks) AS min_tokens,
  max(n_toks) AS max_tokens
FROM t GROUP BY 1"""


SAMPLE_PCT = 20  # per-stratum keep rate


def docs_stratified_sample(d: Dialect) -> str:
    """Deterministic stratified sample: keep {SAMPLE_PCT}% of each
    ``lang`` stratum by id-hash bucket — reproducible across engines,
    runs and partitioning (the same reason docs_split_assign avoids
    rand()), and stratum-balanced where a global hash sample would
    under-represent small languages. Zero-shuffle projection; the
    interpreted char-fold hash is computed ONCE per row in an inner
    select — filter and projection don't share subexpressions across
    operators, so repeating the expression in WHERE would pay the
    fold twice per row."""
    pct = _id_hash_pct(d)
    return f"""SELECT doc_id, lang, bucket_pct
FROM (SELECT doc_id, lang, {pct} AS bucket_pct FROM documents) i
WHERE bucket_pct < {SAMPLE_PCT}"""


def docs_pack_efficiency(d: Dialect) -> str:
    """Packing QA report over :func:`docs_pack_bins`: bin count,
    min/max fill, total tokens, and mean bin utilization against the
    budget — the check you run before shipping packed shards (a low
    mean utilization means the packer is wasting sequence capacity;
    a max fill far above budget means one doc exceeds it).

    Composes the pack assignment; the rollup is bins-sized (corpus
    tokens / budget rows), aggregated in one map-side-combining pass.
    """
    pack = docs_pack_bins(d)
    return f"""WITH pack AS (
{pack}
),
b AS (SELECT bin_id, sum(n_toks) AS fill FROM pack GROUP BY bin_id)
SELECT cast(count(*) as bigint) AS n_bins,
  cast(min(fill) as bigint) AS min_fill,
  cast(max(fill) as bigint) AS max_fill,
  cast(sum(fill) as bigint) AS total_tokens,
  cast(sum(fill) as double) / (count(*) * {PACK_BUDGET}) AS mean_utilization
FROM b"""


def docs_pack_efficiency_df(spark):
    """Distributed twin of :func:`docs_pack_efficiency`: the identical
    bins rollup computed over :func:`docs_pack_bins_df` (the wired
    two-phase cumsum) instead of over the SQL form, whose embedded
    global cumsum window would single-partition the full doc relation
    — the SQL form stays the DuckDB oracle only. Exact long
    arithmetic; bit-equal to the window form."""
    from pyspark.sql import functions as F

    b = (docs_pack_bins_df(spark)
         .groupBy("bin_id").agg(F.sum("n_toks").alias("fill")))
    return b.agg(
        F.count("*").cast("bigint").alias("n_bins"),
        F.min("fill").cast("bigint").alias("min_fill"),
        F.max("fill").cast("bigint").alias("max_fill"),
        F.sum("fill").cast("bigint").alias("total_tokens"),
        (F.sum("fill").cast("double")
         / (F.count("*") * PACK_BUDGET)).alias("mean_utilization"))


BLOCK_N = 4       # tokens per non-overlapping block
BLOCK_MAX_DF = 4  # keep blocks seen in <= this many distinct docs


BLOCK_VIEW = "__doc_block"


def _block_parts(d: Dialect) -> tuple[str, str, str]:
    """(n_blocks, index-array, block-text) expression fragments over a
    ``toks`` column for the fixed-width {BLOCK_N}-token segmenter."""
    n = BLOCK_N
    if d.name == "spark":
        nb = f"cast(ceil(size(toks) / {n}.0) as int)"
        # sequence(1, 0) DESCENDS in Spark — build >=1 slot, slice to nb
        idx = f"slice(sequence(1, greatest({nb}, 1)), 1, {nb})"
        blk = f"concat_ws(' ', {d.slice('toks', f'(i - 1) * {n} + 1', n)})"
    else:
        nb = f"cast(ceil(len(toks) / {n}.0) as int)"
        idx = f"range(1, {nb} + 1)"
        blk = (f"array_to_string("
               f"{d.slice('toks', f'(i - 1) * {n} + 1', n)}, ' ')")
    return nb, idx, blk


def _block_cte(d: Dialect, base: str | None) -> str:
    """``t`` + ``b`` CTE prefix: the segment relation (doc_id,
    block_no, blk, hv). With ``base`` (the session-materialized block
    plane, Spark side) ``b`` is a cheap view scan; without it the CTE
    is self-contained (DuckDB oracle, standalone tests). ``t`` is
    harmless when unreferenced — both engines prune unused CTEs."""
    _, idx, blk = _block_parts(d)
    t = (f"t AS (\n  SELECT doc_id, {d.tokens('text')} AS toks "
         f"FROM documents\n)")
    if base is not None:
        return (f"WITH {t},\n"
                f"b AS (SELECT doc_id, block_no, blk, hv FROM {base})")
    return f"""WITH {t},
b AS (
  SELECT doc_id, block_no, blk, {d.poly_hash('blk')} AS hv FROM (
    SELECT doc_id, i AS block_no, {blk} AS blk FROM (
      SELECT doc_id, toks, {d.explode(idx)} AS i FROM t
    ) x
  ) y
)"""


@session_plane("doc_block")
def ensure_block_view(spark, key: object = None) -> str:
    """Materialize the fixed-width segment relation once per (session,
    dataset) — docs_block_dedup and docs_boilerplate_topk both consume
    it, and each references it twice (Spark re-evaluates inlined CTEs
    per reference), so the tokenize+explode+hash prefix would
    otherwise run 4x per bench pass. Same build-once pattern as
    dedup.ensure_shingle_view (localCheckpoint locally; a persisted
    table on a cluster)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    materialize_plane_df(
        spark.sql(_block_cte(SPARK, None)
                  + "\nSELECT doc_id, block_no, blk, hv FROM b"), BLOCK_VIEW)
    return BLOCK_VIEW


def docs_block_dedup(d: Dialect, base: str | None = None) -> str:
    """Sub-document boilerplate removal (CCNet/C4-style line dedup):
    segment each document into non-overlapping {BLOCK_N}-token blocks,
    compute each block's corpus-wide document frequency, drop blocks
    appearing in more than {BLOCK_MAX_DF} distinct documents (shared
    boilerplate), and reassemble the surviving blocks in original
    order. On a real corpus the segmenter is a newline/sentence split;
    the synthetic ``documents`` fixture has no line structure, so the
    fixed-width token block stands in — the dedup machinery (global DF
    over segment hashes, filter, ordered reassembly) is identical.

    Scale posture: the document-frequency dimension aggregates
    (hv, doc_id) pairs — 16 bytes a row, block text never rides that
    exchange — with map-side combine at both stages (partial DISTINCT,
    partial count). Filtered to ``df > {BLOCK_MAX_DF}`` it is the HOT
    list: boilerplate-only, tiny by construction, so the probe is a
    broadcast anti-join (Spark plans the non-null ``NOT IN`` as one)
    and the segment relation is never shuffled on hv at all. The only
    exchange carrying text is the per-doc reassembly groupBy, keyed on
    doc_id (well-distributed) with explicit ordering (array_sort over
    (block_no, text) structs — Dialect.ordered_concat), not
    collect_list order. n_blocks comes from a per-doc count over the
    segment relation (a doc_id-only scan backfills zero-token docs),
    so the view-backed driver path never re-tokenizes the corpus. The
    segment CTE is referenced three times (DF build, probe, block
    count); the driver path reads the session-materialized plane
    (ensure_block_view), and the inlined oracle form's repeated scan
    is the same deliberate skew-free trade as text_commonness_score —
    NOT a window over PARTITION BY hv, which would land every
    occurrence of a corpus-wide boilerplate block in one partition.
    """
    return f"""{_block_cte(d, base)},
hot AS (
  SELECT hv FROM (SELECT DISTINCT doc_id, hv FROM b) db
  GROUP BY hv HAVING count(*) > {BLOCK_MAX_DF}
),
k AS (
  SELECT doc_id, block_no, blk FROM b
  WHERE hv NOT IN (SELECT hv FROM hot)
),
agg AS (
  SELECT doc_id AS agg_doc_id, count(*) AS n_kept,
    {d.ordered_concat('blk', 'block_no')} AS clean_text
  FROM k GROUP BY doc_id
),
nbl AS (
  SELECT doc_id AS nbl_doc_id, count(*) AS n_blocks FROM b GROUP BY doc_id
)
SELECT d0.doc_id,
  cast(coalesce(nbl.n_blocks, 0) as bigint) AS n_blocks,
  cast(coalesce(agg.n_kept, 0) as bigint) AS n_kept_blocks,
  coalesce(agg.clean_text, '') AS clean_text
FROM (SELECT doc_id FROM documents) d0
LEFT JOIN nbl ON nbl.nbl_doc_id = d0.doc_id
LEFT JOIN agg ON agg.agg_doc_id = d0.doc_id"""


# importance-sampling keep rates per quality band (percent kept). The
# DSIR-style shape: downweight low-quality strata instead of hard
# gating — the corpus keeps a trickle of every band so the model still
# sees the distribution's tail, but high-quality text dominates.
IMPORTANCE_BANDS = (  # (min_quality_score, keep_pct)
    (0.6, 100),
    (0.4, 50),
    (0.0, 10),
)


def docs_importance_sample(d: Dialect) -> str:
    """Quality-weighted importance sampling: each document's keep
    probability depends on its quality band (IMPORTANCE_BANDS), and
    the keep decision is the same deterministic id-hash bucket used by
    docs_split_assign — reproducible across engines, runs, and
    partitioning, and composable with the split (hash streams are
    independent because the band threshold, not the hash, varies).

    Scale posture (100 TB): composes the text_quality projection (one
    pass over documents, whole-stage codegen) with a pure filter — no
    shuffle, no rand(), trivially resumable. The interpreted char-fold
    hash and the band CASE are each computed ONCE per row in an inner
    select (repeating them in WHERE would double the per-row work —
    filter and projection don't share subexpressions)."""
    from aws_trusted_advisor_explorer_spark.operators import textops

    pct = _id_hash_pct(d)
    band = ("CASE "
            + " ".join(f"WHEN quality_score >= {lo} THEN {keep}"
                       for lo, keep in IMPORTANCE_BANDS[:-1])
            + f" ELSE {IMPORTANCE_BANDS[-1][1]} END")
    return f"""WITH q AS (
{textops.text_quality(d)}
)
SELECT doc_id, quality_score, keep_pct, bucket_pct
FROM (
  SELECT doc_id, quality_score,
    cast({band} as bigint) AS keep_pct,
    cast({pct} as bigint) AS bucket_pct
  FROM q
) i
WHERE bucket_pct < keep_pct"""


def docs_embedding_integrity(d: Dialect) -> str:
    """Cross-table integrity audit between the text corpus and its
    embedding index: matched count and the two orphan counts (docs
    with no vector — unembedded backlog; vectors with no doc —
    stale index entries). The pre-flight check before any query that
    joins the two (semdedup, knn over doc metadata).

    Scale posture: two FULL-relation counts plus one equi-join count —
    at 100 TB this is the same two-sided audit as a reconciliation
    query; the join shuffles on the shared id once (or is co-located
    if a deployment buckets both tables on id with Spark's
    ``bucketBy``)."""
    return """WITH m AS (
  SELECT d.doc_id AS did, e.vec_id AS vid
  FROM documents d FULL OUTER JOIN embeddings e ON e.vec_id = d.doc_id
)
SELECT
  cast(count(did) as bigint) AS n_docs,
  cast(count(vid) as bigint) AS n_vecs,
  cast(sum(CASE WHEN did IS NOT NULL AND vid IS NOT NULL
           THEN 1 ELSE 0 END) as bigint) AS n_matched,
  cast(sum(CASE WHEN vid IS NULL THEN 1 ELSE 0 END) as bigint)
    AS n_docs_without_vec,
  cast(sum(CASE WHEN did IS NULL THEN 1 ELSE 0 END) as bigint)
    AS n_vecs_without_doc
FROM m"""


BOILERPLATE_TOPK = 20


def docs_boilerplate_topk(d: Dialect, base: str | None = None) -> str:
    """Boilerplate forensics: the {BOILERPLATE_TOPK} most widely shared
    token blocks (df >= 2) with their document frequency and occurrence
    count — the report that tells a curator WHAT the shared boilerplate
    IS, to confirm a stop-list before docs_block_dedup cuts it. Uses
    the same fixed-width segmenter as docs_block_dedup so every
    reported block maps 1:1 to what that operator would drop.

    Scale posture: ranking runs entirely on the text-free (hv, doc_id)
    relation — a two-level aggregate (per-(hv, doc_id) partials, both
    map-side combined; no DISTINCT expand), then ORDER BY + LIMIT
    (distributed TakeOrdered, no global sort). Only the {BOILERPLATE_TOPK}
    winners' hvs join back for a sample text (broadcast semi-join into
    a {BOILERPLATE_TOPK}-group aggregate), so block text never shuffles
    corpus-wide. The segment CTE is referenced twice — read from the
    session-materialized plane in the driver path (ensure_block_view);
    the inlined oracle form re-scans, deliberately, as in
    docs_block_dedup."""
    return f"""{_block_cte(d, base)},
agg AS (
  SELECT hv, count(*) AS df, sum(cnt) AS n_occ
  FROM (SELECT hv, doc_id, count(*) AS cnt FROM b GROUP BY hv, doc_id) pd
  GROUP BY hv
),
top AS (
  SELECT hv, df, n_occ FROM agg WHERE df >= 2
  ORDER BY df DESC, n_occ DESC, hv LIMIT {BOILERPLATE_TOPK}
),
txt AS (
  SELECT b.hv, min(b.blk) AS block_text
  FROM b JOIN top ON top.hv = b.hv GROUP BY b.hv
)
SELECT txt.block_text, cast(top.df as bigint) AS n_docs,
  cast(top.n_occ as bigint) AS n_occurrences, top.hv AS block_hv
FROM top JOIN txt ON txt.hv = top.hv"""


CARD_SHORT_DOC_TOKENS = 16  # docs under this token count are "short"


# Weighted blocklist (the C4/Gopher "banned words" curation rule).
# The terms here are DEMO entries chosen to exist in the synthetic
# corpus vocabulary so the signal is non-zero at every driver SF; a
# production run swaps the dict for its policy list — the mechanism
# (severity-weighted token matching, ppm rate, threshold verdict) is
# what this operator is.
BLOCKLIST = {"slow": 2, "dup": 1, "big": 1}
BLOCK_PPM = 60_000  # block a doc when >= 6% of tokens are listed


def docs_blocklist_score(d: Dialect) -> str:
    """Blocklist (banned-words) safety/curation scoring — the missing
    sibling of the quality gate: per doc, how many tokens match a
    severity-weighted lexicon, the integer hit rate (ppm of tokens),
    the severity sum, and the block verdict (hit rate >=
    {BLOCK_PPM} ppm). This is the C4-style lexicon filter every
    production curation pipeline runs before quality scoring.

    The lexicon is tiny by nature, so it inlines as a CASE expression
    INSIDE a per-doc array fold — a pure scan projection with ZERO
    shuffles/joins/windows (the broadcast-join form only wins when the
    lexicon outgrows a plan literal; same two-tier rule as the BPE
    apply's {'{'}literal | broadcast{'}'} ladder). Counts and ppm are
    exact integers; zero-token docs get NULL rate and are never
    blocked (ANSI guard). NULL-text docs tokenize via coalesce(text,
    '') so they take the documented zero-token branch (0 hits, NULL
    rate, not blocked) instead of propagating NULL through the fold.
    Terms are validated at render time: anything outside [a-z0-9]+
    could never match the tokenizer's token set AND would break (or
    inject into) the generated CASE literal — a swapped-in production
    policy list fails loudly here rather than silently matching
    nothing."""
    bad = [w for w in BLOCKLIST if not re.fullmatch(r"[a-z0-9]+", w)]
    if bad:
        raise ValueError(
            f"BLOCKLIST terms must match [a-z0-9]+ (the tokenizer's "
            f"token alphabet); invalid: {bad!r}")
    toks = d.tokens("coalesce(text, '')")
    sev_case = "CASE " + " ".join(
        f"WHEN t = '{w}' THEN {sv}" for w, sv in sorted(BLOCKLIST.items())
    ) + " ELSE 0 END"
    sev_arr = d.transform(toks, "t", sev_case)
    sev_sum = d.fold("sevs", "cast(0 as bigint)", "s", "v",
                     "s + cast(v as bigint)")
    hit_sum = d.fold("sevs", "cast(0 as bigint)", "s", "v",
                     "s + CASE WHEN v > 0 THEN 1 ELSE 0 END")
    ppm = d.idiv("(n_hits * 1000000)", "n_tokens")
    return f"""WITH s AS (
  SELECT doc_id, {d.arr_len(toks)} AS n_tokens, {sev_arr} AS sevs
  FROM documents
),
h AS (
  SELECT doc_id, cast(n_tokens as bigint) AS n_tokens,
    {hit_sum} AS n_hits, {sev_sum} AS severity_sum
  FROM s
)
SELECT doc_id, n_tokens, n_hits, severity_sum,
  CASE WHEN n_tokens = 0 THEN NULL
       ELSE cast({ppm} as bigint) END AS hit_ppm,
  cast(CASE WHEN n_tokens = 0 THEN 0
            WHEN {ppm} >= {BLOCK_PPM} THEN 1
            ELSE 0 END as bigint) AS blocked
FROM h"""


def docs_dataset_card(d: Dialect) -> str:
    """The dataset-card summary (the one-row datasheet a corpus release
    ships): document/token/char totals, language and source
    cardinality, token-length min/mean/max, and the short-doc share —
    the first table in any data statement or model card.

    Cross-engine exactness: every aggregate is an exact bigint (counts
    and sums of per-doc integer token/char counts); the two ratios are
    single divisions of those bigints, so both engines emit identical
    doubles.

    Scale posture: ONE map-side-combining pass over the corpus (count /
    sum / min / max partials, plus two-level distinct counts over
    tiny-cardinality columns), one exchange of constant-size partials,
    one output row."""
    n_toks = d.arr_len(d.tokens("text"))
    return f"""WITH t AS (
  SELECT lang, source, cast({n_toks} as bigint) AS n_toks,
    cast(length(text) as bigint) AS n_chars
  FROM documents
)
SELECT
  cast(count(*) as bigint) AS n_docs,
  cast(sum(n_toks) as bigint) AS n_tokens,
  cast(sum(n_chars) as bigint) AS n_chars,
  cast(count(DISTINCT lang) as bigint) AS n_langs,
  cast(count(DISTINCT source) as bigint) AS n_sources,
  cast(min(n_toks) as bigint) AS min_doc_tokens,
  cast(max(n_toks) as bigint) AS max_doc_tokens,
  cast(sum(n_toks) as double) / count(*) AS mean_doc_tokens,
  cast(sum(CASE WHEN n_toks < {CARD_SHORT_DOC_TOKENS} THEN 1 ELSE 0 END)
       as bigint) AS n_short_docs,
  cast(sum(CASE WHEN n_toks < {CARD_SHORT_DOC_TOKENS} THEN 1 ELSE 0 END)
       as double) / count(*) AS short_doc_share
FROM t"""


# --- end-to-end curation pipeline (composition flagship) -------------------
# stage parameters are BOUND to their standalone operators' constants
# (textops label rule, this module's DOMAIN_CAP), not re-declared, so
# tuning one tunes both (review finding r2)
from aws_trusted_advisor_explorer_spark.operators.textops import (  # noqa: E402
    NB_MIN_TOKENS as PIPE_MIN_TOKENS,
    NB_STOP_PCT as PIPE_STOP_PCT,
)


def docs_curation_pipeline(d: Dialect) -> str:
    """The whole curation pass as ONE declarative plan — the query a
    training-data team actually ships: exact dedup (content-hash
    keep-lowest), rule quality gate, per-domain cap, and train/val/
    test assignment, emitting every document with its verdict and the
    FIRST failing stage as the drop reason (dedup → quality → cap).
    Composing stages in one query is the point: Catalyst fuses the
    projections, reuses one scan, and the per-doc verdicts land
    atomically instead of via four intermediate tables.

    Scale posture (100 TB): exactly TWO exchanges — the dedup window
    keyed on md5(text) (~40-byte rows, text never shuffles: the
    hash-key rule from the exact-dedup family) and the domain-cap
    rank keyed on source (doc_id/source/hash rows). Quality and split
    are pure codegen projections riding those shuffles. The cap ranks
    only docs that SURVIVE dedup+quality, so its exchange is the
    post-filter sliver."""
    from aws_trusted_advisor_explorer_spark.operators.textops import (
        STOPWORDS, _in_list,
    )

    md5 = "md5(text)"  # hex-string-identical in Spark and DuckDB
    n_tok = d.arr_len("toks")
    n_stop = d.arr_len(d.filter_("toks", "x", f"x IN {_in_list(STOPWORDS)}"))
    pct = _id_hash_pct(d)
    # the cap rank draws from a SALTED decision stream: ranking by the
    # split hash would funnel every capped source's survivors into
    # 'train' (lowest hpct values win the rank AND map to the train
    # band) — review finding r2
    cap_pct = _id_hash_pct(d, salt="cap")
    return f"""WITH t AS (
  SELECT doc_id, source, {d.tokens('text')} AS toks, {md5} AS h,
    {pct} AS hpct, {cap_pct} AS cappct
  FROM documents
),
m AS (
  SELECT doc_id, source, h, hpct, cappct,
    cast({n_tok} as bigint) AS n_tokens,
    cast({n_stop} as bigint) AS n_stop,
    min(doc_id) OVER (PARTITION BY h) AS keeper_id
  FROM t
),
q AS (
  SELECT doc_id, source, hpct, cappct, n_tokens,
    CASE WHEN doc_id = keeper_id THEN 0 ELSE 1 END AS is_dup,
    CASE WHEN n_tokens >= {PIPE_MIN_TOKENS}
          AND n_stop * 100 >= n_tokens * {PIPE_STOP_PCT}
         THEN 1 ELSE 0 END AS quality_ok
  FROM m
),
r AS (
  SELECT doc_id, source, hpct, n_tokens, is_dup, quality_ok,
    CASE WHEN is_dup = 0 AND quality_ok = 1 THEN
      row_number() OVER (
        PARTITION BY source,
          CASE WHEN is_dup = 0 AND quality_ok = 1 THEN 1 ELSE 0 END
        ORDER BY cappct, doc_id)
    ELSE NULL END AS cap_rk
  FROM q
)
SELECT doc_id, source, cast(is_dup as bigint) AS is_dup,
  cast(quality_ok as bigint) AS quality_ok,
  cast(cap_rk as bigint) AS cap_rk,
  cast(CASE WHEN is_dup = 0 AND quality_ok = 1
            AND cap_rk <= {PIPE_CAP} THEN 1 ELSE 0 END as bigint) AS keep,
  CASE WHEN is_dup = 1 THEN 'exact_dup'
       WHEN quality_ok = 0 THEN 'low_quality'
       WHEN cap_rk > {PIPE_CAP} THEN 'domain_cap'
       ELSE NULL END AS drop_reason,
  {_split_case('hpct')} AS split
FROM r"""


# --- per-domain cap (source-balance curation) ------------------------------
DOMAIN_CAP = 15  # max docs kept per source
PIPE_CAP = DOMAIN_CAP  # the pipeline's cap stage IS docs_domain_cap's rule


def docs_domain_cap(d: Dialect) -> str:
    """Per-domain document cap (the CCNet/C4 source-balance rule: no
    single domain may dominate the corpus): rank docs within each
    source by a SALTED deterministic id-hash (content-independent,
    stable under re-runs and repartitioning — the same no-rand() rule
    as docs_split_assign, but drawn from an independent decision
    stream: ranking by the split hash itself would bias every capped
    source's survivors into the train band) and keep the first
    {DOMAIN_CAP}. Emits every doc with its rank and verdict so the
    drop set is auditable.

    Scale posture (100 TB): one exchange keyed on source. A hot domain
    makes a hot partition; the production guard is a two-phase cap —
    per-partition partial ranks, then a per-source offset join (same
    shape as docs_pack_bins' distributed cumsum) — or AQE skew-split,
    which handles moderate skew already. Ranking carries (doc_id,
    source, hash) only — text never shuffles."""
    pct = _id_hash_pct(d, salt="cap")
    return f"""WITH h AS (
  SELECT doc_id, source, {pct} AS hpct FROM documents
),
r AS (
  SELECT doc_id, source, hpct,
    row_number() OVER (PARTITION BY source ORDER BY hpct, doc_id) AS rk
  FROM h
)
SELECT doc_id, source, cast(rk as bigint) AS rk,
  cast(CASE WHEN rk <= {DOMAIN_CAP} THEN 1 ELSE 0 END as bigint) AS kept
FROM r"""


# --- CDC MERGE (batch upsert/delete apply) ---------------------------------
# Deterministic synthetic change feed derived from the snapshot itself:
# every doc_id % CDC_MOD == 0 row is in the feed (deletes where
# doc_id % CDC_DELETE_MOD == 0, else updated text), plus inserts at
# offset ids — so both engines merge identical inputs with no RNG.
CDC_MOD = 3
CDC_DELETE_MOD = 7
CDC_INSERT_MOD = 50          # doc_id % 50 == 1 rows spawn an insert twin


def docs_merge_cdc(d: Dialect) -> str:
    """Batch MERGE (the Delta/Iceberg ``MERGE INTO`` shape without the
    table format): apply a change feed of upserts + deletes to the
    documents snapshot in one full-outer join, emitting the next
    snapshot with an ``action`` audit column (update / delete-drop /
    insert / keep). Deletes drop the row; updates take the feed's
    text; inserts arrive under fresh ids ABOVE the snapshot's max id
    (a one-row max subquery, not a fixed offset — a fixed offset
    collides with real ids once the corpus outgrows it; review
    finding r2), so feed keys are unique by construction and the
    full-outer join can never fan out.

    Scale posture (100 TB): ONE equi-join on doc_id — with the
    snapshot bucketed by id (Spark's ``bucketBy``, where a deployment
    needs it) the merge is shuffle-free on the big side,
    and a daily-sized change feed broadcasts; this is exactly how
    merge-on-read engines schedule MERGE. No text ever shuffles on
    the snapshot side beyond its own co-located bucket files."""
    return f"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
c AS (
  SELECT doc_id,
    CASE WHEN doc_id % {CDC_DELETE_MOD} = 0 THEN 'delete'
         ELSE 'upsert' END AS op,
    'v2 ' || text AS new_text, lang, source
  FROM documents WHERE doc_id % {CDC_MOD} = 0
  UNION ALL
  SELECT doc_id + mx.mx + 1 AS doc_id, 'upsert' AS op,
    'new ' || text AS new_text, lang, source
  FROM documents CROSS JOIN mx WHERE doc_id % {CDC_INSERT_MOD} = 1
),
m AS (
  SELECT coalesce(s.doc_id, c.doc_id) AS doc_id,
    CASE WHEN c.op = 'delete' THEN 'delete'
         WHEN c.doc_id IS NOT NULL AND s.doc_id IS NOT NULL THEN 'update'
         WHEN c.doc_id IS NOT NULL THEN 'insert'
         ELSE 'keep' END AS action,
    coalesce(c.new_text, s.text) AS text,
    coalesce(s.lang, c.lang) AS lang,
    coalesce(s.source, c.source) AS source
  FROM documents s FULL OUTER JOIN c ON s.doc_id = c.doc_id
)
SELECT doc_id, action, lang, source,
  cast(length(text) as bigint) AS n_chars, text
FROM m WHERE action <> 'delete'"""


SHUFFLE_EPOCHS = 2   # epochs planned per pass (constant; a run plans
                     # each epoch it will train)
SHUFFLE_SHARDS = 16  # output shards per epoch — sized so one shard's
                     # rows fit a reader task; at 100 TB this constant
                     # grows to thousands (corpus/shard stays bounded),
                     # exactly like DISORDER_SHARD_W


def docs_epoch_shuffle_plan(d: Dialect) -> str:
    """Per-EPOCH global shuffle plan — the data-ORDERING operator a
    training run needs beside packing/splitting: every (doc, epoch)
    gets a deterministic pseudo-random position, different every
    epoch, WITHOUT a global sort. The terasort-free construction:
    salted hash of (epoch, doc_id) → shard = hash mod
    {SHUFFLE_SHARDS} (the reader's file unit), within-(epoch, shard)
    rank by (hash, doc_id), and global_pos = shard offset + rank,
    offsets from the epoch's cumulative shard sizes. A reader
    consuming shards in order at each epoch sees a full deterministic
    permutation that reshuffles across epochs — resumable (no rand()),
    and epoch k+1's order is uncorrelated with epoch k's because the
    epoch salts the hash (the independent-decision-stream rule of
    id_hash_pct).

    Scale posture (100 TB): the only data-sized work is one window
    partitioned by (epoch, shard) — {SHUFFLE_EPOCHS}x{SHUFFLE_SHARDS}
    partitions of corpus/{SHUFFLE_SHARDS} rows each, i.e. the
    per-shard sort every shuffled-dataset writer (WebDataset, tfrecord
    shuffling) performs, never a single global order-by; the offset
    relation is epochs x shards rows (window + broadcast join back).
    Ranks and offsets are exact bigints; hash ties break on doc_id —
    fully deterministic cross-engine."""
    eps = d.arr_lit([str(e) for e in range(SHUFFLE_EPOCHS)])
    hv = d.poly_hash(
        f"('shuf:' || {d.str_cast('epoch')} || ':' || "
        f"{d.str_cast('doc_id')})")
    return f"""WITH e AS (
  SELECT doc_id, {d.explode(eps)} AS epoch FROM documents
),
h AS (
  SELECT doc_id, cast(epoch as bigint) AS epoch, {hv} AS hv FROM e
),
s AS (
  SELECT doc_id, epoch, hv, hv % {SHUFFLE_SHARDS} AS shard FROM h
),
r AS (
  SELECT doc_id, epoch, shard, hv,
    row_number() OVER (PARTITION BY epoch, shard ORDER BY hv, doc_id)
      AS shard_pos
  FROM s
),
sz AS (
  SELECT epoch, shard, cast(count(*) as bigint) AS n
  FROM s GROUP BY epoch, shard
),
off AS (
  SELECT epoch, shard,
    coalesce(sum(n) OVER (PARTITION BY epoch ORDER BY shard
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING),
             cast(0 as bigint)) AS base
  FROM sz
)
SELECT r.doc_id, r.epoch, cast(r.shard as bigint) AS shard,
  cast(r.shard_pos as bigint) AS shard_pos,
  cast(off.base + r.shard_pos as bigint) AS global_pos
FROM r JOIN off ON off.epoch = r.epoch AND off.shard = r.shard"""


# --- release capstone (r10 verdict task 4): detect -> drop ->
#     decontaminate -> split -> pack -> shard -> manifest -------------------
RELEASE_SHARD_TOKENS = 2048  # token budget per release shard


def docs_release_manifest_oracle(d: Dialect) -> str:
    """DuckDB oracle for the release capstone — the ONE artifact a
    training-data team hands off: compose every existing rail (exact
    dedup + quality gate + domain cap + split from
    :func:`docs_curation_pipeline`; the MinHash near-dup drop list
    from ``docs_near_dedup_apply``; benchmark decontamination from
    :func:`docs_decontaminated`), pack the survivors into
    token-budget shards per split (the :func:`docs_pack_bins`
    exclusive-cumsum rule, PARTITIONed BY split), and emit one
    manifest row per shard: path, doc/token/byte counts, an
    order-independent content checksum (bit_xor of the per-doc
    poly-hash), and the id range.

    DuckDB-only (the near-dup component closure is a recursive CTE —
    the embeddings_power_iteration rule); the registered Spark form
    is :func:`docs_release_manifest_df`, which composes the same
    rails as DataFrames with the distributed two-phase cumsum."""
    from aws_trusted_advisor_explorer_spark.operators.dedup import (
        docs_near_dedup_apply_oracle,
    )

    n_toks = d.arr_len(d.tokens("text"))
    nbytes = ("octet_length(text)" if d.name == "spark"
              else "strlen(text)")  # both count BYTES (tar member size)
    return f"""WITH pipe AS (
{docs_curation_pipeline(d)}
),
nd AS (
{docs_near_dedup_apply_oracle(d)}
),
ship AS (
{docs_decontaminated(d)}
),
tok AS (
  SELECT doc_id, cast({n_toks} as bigint) AS n_toks,
    cast({nbytes} as bigint) AS n_bytes,
    {d.poly_hash('text')} AS h
  FROM documents
),
rel AS (
  SELECT p.doc_id, p.split, t.n_toks, t.n_bytes, t.h
  FROM pipe p
  JOIN nd ON nd.doc_id = p.doc_id
  JOIN ship s ON s.doc_id = p.doc_id
  JOIN tok t ON t.doc_id = p.doc_id
  WHERE p.keep = 1 AND nd.keep
),
c AS (
  SELECT doc_id, split, n_toks, n_bytes, h,
    sum(n_toks) OVER (PARTITION BY split ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS prior
  FROM rel
),
sh AS (
  SELECT doc_id, split, n_toks, n_bytes, h,
    cast(floor(coalesce(prior, 0) / {RELEASE_SHARD_TOKENS}) as bigint)
      AS shard_id
  FROM c
)
SELECT split, shard_id,
  'release/' || split || '/shard-'
    || lpad(cast(shard_id as varchar), 5, '0') || '.tar' AS path,
  cast(count(*) as bigint) AS n_docs,
  cast(sum(n_toks) as bigint) AS n_tokens,
  cast(sum(n_bytes) as bigint) AS n_bytes,
  cast(bit_xor(h) as bigint) AS checksum_xor,
  cast(min(doc_id) as bigint) AS first_doc_id,
  cast(max(doc_id) as bigint) AS last_doc_id
FROM sh GROUP BY split, shard_id"""


def _release_rel_df(spark, key: object = None):
    """The UNPACKED released-doc relation (doc_id, split, n_toks,
    n_bytes, h) — every gate rail composed, before shard
    assignment (:func:`_release_pack_df` adds prior/shard_id; the
    incremental refresh packs stored and delta slices separately):

    - pipeline verdicts (exact dedup + quality + domain cap + split)
      keep=1 survivors — docs_curation_pipeline, 2 exchanges;
    - near-dup keepers — docs_near_dedup_apply_df off the session
      MinHash pair plane (broadcast-sized cluster relation);
    - decontaminated ship list — docs_decontaminated off the session
      contamination plane (broadcast anti-join);
    - content hash from the session dochash plane (no re-fold).

    Scale posture (100 TB): every join is id-keyed and skinny (no
    text column rides along)."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import dedup

    pipe = (spark.sql(docs_curation_pipeline(SPARK))
            .filter("keep = 1").select("doc_id", "split"))
    nd = (dedup.docs_near_dedup_apply_df(
        spark, pairs_view=dedup.ensure_minhash_pairs_view(spark, key=key))
        .filter("keep").select("doc_id"))
    ship = spark.sql(docs_decontaminated(
        SPARK, base=ensure_contam_view(spark, key=key))).select("doc_id")
    hv = (spark.table(dedup.ensure_dochash_view(spark, key=key))
          .select("doc_id", F.col("hv").alias("h")))
    tok = spark.table("documents").selectExpr(
        "doc_id",
        f"cast({SPARK.arr_len(SPARK.tokens('text'))} as bigint) AS n_toks",
        "cast(octet_length(text) as bigint) AS n_bytes")
    rel = (pipe.join(nd, "doc_id").join(ship, "doc_id")
           .join(tok, "doc_id").join(hv, "doc_id"))
    return rel


RELEASE_REL_VIEW = "__release_rel_ranged"


@session_plane("release_rel_ranged",
               deps=("minhash_pairs", "contam_hits_plane", "doc_content_hv"))
def ensure_release_rel_view(spark, key: object = None) -> str:
    """Materialize the released-doc rail (:func:`_release_rel_df`) as
    a ``functions.ranged.range_layout`` by (split, doc_id) once per
    (session, dataset): the release manifest and the incremental
    refresh pack filtered slices of this one layout instead of each
    re-composing and re-ranging the rail per run."""
    from aws_trusted_advisor_explorer_spark.functions.ranged import (
        range_layout,
    )

    materialize_plane_df(
        range_layout(_release_rel_df(spark, key=key), "split", "doc_id"),
        RELEASE_REL_VIEW)
    return RELEASE_REL_VIEW


def _manifest_agg_df(a):
    """The manifest aggregate over a packed assignment relation: one
    map-side-combining groupBy — exact counts, the order-independent
    bit_xor content checksum, the id range."""
    from pyspark.sql import functions as F

    return (a.groupBy("split", "shard_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_toks").cast("bigint").alias("n_tokens"),
                 F.sum("n_bytes").cast("bigint").alias("n_bytes"),
                 F.expr("cast(bit_xor(h) as bigint)")
                 .alias("checksum_xor"),
                 F.min("doc_id").cast("bigint").alias("first_doc_id"),
                 F.max("doc_id").cast("bigint").alias("last_doc_id")))


class ReleaseRail(NamedTuple):
    """What the doc and the pair release differ in: the rail's id
    column, the measure (SQL text) whose running total per split fills
    shards of ``shard_size``, the manifest aggregate over a packed
    relation (split, shard_id, then counters named by :func:`_roll`'s
    rule, the first counting rows) and the shard path prefix."""
    id_col: str
    measure: str
    shard_size: int
    agg: Callable
    prefix: str


DOC_RELEASE = ReleaseRail("doc_id", "n_toks", RELEASE_SHARD_TOKENS,
                          _manifest_agg_df, "release")


def _release_pack_df(ranged, r: ReleaseRail, base=None):
    """A slice of the ranged rail with ``shard_id``: the running total
    of ``r.measure`` per split in id order (``functions.ranged.
    prefix_total``, starting at ``base``'s per-split total), floored
    to ``r.shard_size``."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.ranged import (
        prefix_total,
    )

    return (prefix_total(ranged, [r.id_col], F.expr(r.measure),
                         by=["split"], base=base)
            .withColumn("shard_id",
                        F.floor(F.col("prior") / r.shard_size)
                        .cast("bigint")))


def _with_path(m, prefix: str):
    """``m`` (one row per split and shard) with the shard ``path``
    after its key columns."""
    from pyspark.sql import functions as F

    keys = ("split", "shard_id")
    return m.select(*keys,
                    F.format_string(f"{prefix}/%s/shard-%05d.tar", *keys)
                    .alias("path"),
                    *[c for c in m.columns if c not in keys])


def release_manifest_df(ranged, r: ReleaseRail):
    """The manifest of the ranged rail ``ranged``: one aggregate over
    the whole rail packed per split."""
    return _with_path(r.agg(_release_pack_df(ranged, r)), r.prefix)


def docs_release_manifest_df(spark, key: object = None):
    """The release manifest as a DataFrame (the registered Spark form
    of :func:`docs_release_manifest_oracle`): one row per (split,
    shard) with the shard path, exact doc/token/byte counts, the
    order-independent bit_xor content checksum, and the id range,
    over the session ranged rail."""
    return release_manifest_df(
        spark.table(ensure_release_rel_view(spark, key=key)), DOC_RELEASE)


# the synthetic "nightly batch": released docs above the 90th
# percentile of the id range (append-only arrivals — new ids sort
# after every stored id, which is exactly the regime where a packed
# manifest refreshes incrementally: earlier shard assignments cannot
# move)
RELEASE_REFRESH_NUM, RELEASE_REFRESH_DEN = 9, 10


def docs_release_refresh_oracle(d: Dialect) -> str:
    """Incremental REFRESH of the release manifest (r11 verdict task
    4) — the :func:`docs_agg_refresh` stored+delta algebra applied to
    the release capstone: the stored manifest (snapshot = released
    docs at/below the id cut) is brought current by a delta batch
    (released docs above the cut) WITHOUT rescanning the snapshot:

    - the delta packs by starting each split's cumsum at the stored
      split's token total (one rollup-sized number per split — the
      snapshot rows are never re-read for packing);
    - per-shard counters merge additively; the content checksum
      merges because bit_xor is associative/self-inverse — stored ⊕
      delta IS the refreshed shard checksum;
    - id ranges merge by min/max (append-only delta ⇒ stored firsts
      never move).

    Append-only is the load-bearing precondition (delta ids all sort
    after stored ids within every split, so stored shard assignments
    are prefix-stable); the ``matches_recompute`` audit column proves
    the merged manifest equals a direct recompute over the full
    released set — carried in-row, so a violated precondition (e.g.
    backfilled ids) is visible in production, not silent. Verdict
    rails (dedup/quality/decontamination) are upstream of this
    operator and have their own incremental forms (dedup_incremental,
    docs_merge_cdc); this maintains the pack/manifest layer.

    DuckDB-only oracle (the near-dup rail is a recursive CTE — the
    docs_release_manifest rule); the registered Spark form is
    :func:`docs_release_refresh_df`."""
    from aws_trusted_advisor_explorer_spark.operators.dedup import (
        docs_near_dedup_apply_oracle,
    )

    n_toks = d.arr_len(d.tokens("text"))
    nbytes = ("octet_length(text)" if d.name == "spark"
              else "strlen(text)")
    cut = d.idiv(f"(max(doc_id) * {RELEASE_REFRESH_NUM})",
                 str(RELEASE_REFRESH_DEN))
    agg = f"""cast(count(*) as bigint) AS n_docs,
  cast(sum(n_toks) as bigint) AS n_tokens,
  cast(sum(n_bytes) as bigint) AS n_bytes,
  cast(bit_xor(h) as bigint) AS checksum_xor,
  cast(min(doc_id) as bigint) AS first_doc_id,
  cast(max(doc_id) as bigint) AS last_doc_id"""
    prior_w = ("sum(n_toks) OVER (PARTITION BY split ORDER BY doc_id "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)")

    def pack(src: str) -> str:
        return f"""SELECT split, shard_id, {agg} FROM (
  SELECT doc_id, split, n_toks, n_bytes, h,
    cast(floor(coalesce(prior, 0) / {RELEASE_SHARD_TOKENS}) as bigint)
      AS shard_id
  FROM (SELECT doc_id, split, n_toks, n_bytes, h, {prior_w} AS prior
        FROM {src}) c0
) s0 GROUP BY split, shard_id"""

    nse = (lambda a, b: f"{a} <=> {b}") if d.name == "spark" else \
        (lambda a, b: f"{a} IS NOT DISTINCT FROM {b}")
    eq = " AND ".join(
        nse(f"m.{c}", f"f.{c}")
        for c in ("n_docs", "n_tokens", "n_bytes", "checksum_xor",
                  "first_doc_id", "last_doc_id"))
    return f"""WITH pipe AS (
{docs_curation_pipeline(d)}
),
nd AS (
{docs_near_dedup_apply_oracle(d)}
),
ship AS (
{docs_decontaminated(d)}
),
tok AS (
  SELECT doc_id, cast({n_toks} as bigint) AS n_toks,
    cast({nbytes} as bigint) AS n_bytes,
    {d.poly_hash('text')} AS h
  FROM documents
),
rel AS (
  SELECT p.doc_id, p.split, t.n_toks, t.n_bytes, t.h
  FROM pipe p
  JOIN nd ON nd.doc_id = p.doc_id
  JOIN ship s ON s.doc_id = p.doc_id
  JOIN tok t ON t.doc_id = p.doc_id
  WHERE p.keep = 1 AND nd.keep
),
cutr AS (SELECT {cut} AS cut FROM documents),
srel AS (SELECT rel.* FROM rel CROSS JOIN cutr WHERE doc_id <= cut),
drel0 AS (SELECT rel.* FROM rel CROSS JOIN cutr WHERE doc_id > cut),
sman AS (
{pack('srel')}
),
sbase AS (SELECT split, cast(sum(n_toks) as bigint) AS base
          FROM srel GROUP BY split),
dsh AS (
  SELECT doc_id, split, n_toks, n_bytes, h,
    cast(floor((base + coalesce(dprior, 0)) / {RELEASE_SHARD_TOKENS})
         as bigint) AS shard_id
  FROM (
    SELECT d0.doc_id, d0.split, d0.n_toks, d0.n_bytes, d0.h,
      coalesce(sb.base, 0) AS base,
      sum(d0.n_toks) OVER (PARTITION BY d0.split ORDER BY d0.doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS dprior
    FROM drel0 d0 LEFT JOIN sbase sb ON sb.split = d0.split
  ) dd
),
dman AS (SELECT split, shard_id, {agg} FROM dsh GROUP BY split, shard_id),
merged AS (
  SELECT coalesce(s.split, dl.split) AS split,
    coalesce(s.shard_id, dl.shard_id) AS shard_id,
    coalesce(s.n_docs, 0) + coalesce(dl.n_docs, 0) AS n_docs,
    coalesce(s.n_tokens, 0) + coalesce(dl.n_tokens, 0) AS n_tokens,
    coalesce(s.n_bytes, 0) + coalesce(dl.n_bytes, 0) AS n_bytes,
    {d.xor('coalesce(s.checksum_xor, 0)', 'coalesce(dl.checksum_xor, 0)')}
      AS checksum_xor,
    CASE WHEN s.first_doc_id IS NULL THEN dl.first_doc_id
         WHEN dl.first_doc_id IS NULL THEN s.first_doc_id
         ELSE least(s.first_doc_id, dl.first_doc_id) END AS first_doc_id,
    CASE WHEN s.last_doc_id IS NULL THEN dl.last_doc_id
         WHEN dl.last_doc_id IS NULL THEN s.last_doc_id
         ELSE greatest(s.last_doc_id, dl.last_doc_id) END AS last_doc_id,
    coalesce(s.n_docs, 0) AS n_docs_stored,
    coalesce(dl.n_docs, 0) AS n_docs_delta
  FROM sman s FULL OUTER JOIN dman dl
    ON dl.split = s.split AND dl.shard_id = s.shard_id
),
full_rc AS (
{pack('rel')}
)
SELECT coalesce(m.split, f.split) AS split,
  coalesce(m.shard_id, f.shard_id) AS shard_id,
  'release/' || coalesce(m.split, f.split) || '/shard-'
    || lpad({d.str_cast('coalesce(m.shard_id, f.shard_id)')}, 5, '0')
    || '.tar' AS path,
  m.n_docs, m.n_tokens, m.n_bytes, m.checksum_xor,
  m.first_doc_id, m.last_doc_id, m.n_docs_stored, m.n_docs_delta,
  ({eq}) AS matches_recompute
FROM merged m FULL OUTER JOIN full_rc f
  ON f.split = m.split AND f.shard_id = m.shard_id"""


def _roll(c: str):
    """How column ``c`` of a manifest combines across rows, by its
    name: ``*_xor`` checksums xor, ``first_*``/``last_*`` ids take
    min/max, every other column (a counter) adds."""
    from pyspark.sql import functions as F

    return (F.bit_xor(c) if c.endswith("_xor") else
            F.min(c) if c.startswith("first_") else
            F.max(c) if c.startswith("last_") else F.sum(c))


def _split_audit_df(m, ranged, agg):
    """The merged manifest ``m`` (one row per split and shard) with
    ``matches_recompute``: whether its split's rows roll up
    (:func:`_roll`) to the manifest aggregate ``agg`` taken per split
    straight over the ranged rail, with no packing and no id cut
    (nothing shared with the stored/delta arms that built ``m``). A
    wrong counter in any shard flags every row of its split, and a
    split on one side only is flagged too."""
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rail = agg(ranged.withColumn("shard_id", F.lit(0)))
    cols = [c for c in rail.columns if c not in ("split", "shard_id")]
    w = Window.partitionBy("split")
    ok = reduce(lambda a, b: a & b, [
        _roll(c).over(w).cast("bigint").eqNullSafe(F.col(f"rail_{c}"))
        for c in cols])
    rail = rail.select("split", *[F.col(c).alias(f"rail_{c}") for c in cols])
    return (m.join(rail, "split", "full_outer")
            .select(*m.columns, ok.alias("matches_recompute")))


def release_refresh_df(ranged, r: ReleaseRail):
    """The stored+delta refresh of the manifest of the ranged rail
    ``ranged`` (the algebra of :func:`docs_release_refresh_oracle`):
    the rail is cut at RELEASE_REFRESH_NUM/RELEASE_REFRESH_DEN of the
    max doc id; the stored slice packs from 0 and the delta slice
    from the stored per-split total of ``r.measure``, so the snapshot
    rows are never re-read for packing. The two manifests' rows merge
    per shard by :func:`_roll`, with ``<count>_stored`` and
    ``<count>_delta`` keeping each side's row count, and
    :func:`_split_audit_df` adds ``matches_recompute``; the DuckDB
    oracle keeps the full pack per shard."""
    from pyspark.sql import functions as F

    cut = ranged.sparkSession.table("documents").agg(F.expr(
        f"cast((max(doc_id) * {RELEASE_REFRESH_NUM}) "
        f"div {RELEASE_REFRESH_DEN} as bigint)").alias("cut"))
    rel2 = ranged.crossJoin(F.broadcast(cut))
    srel = rel2.filter(f"{r.id_col} <= cut").drop("cut")
    drel = rel2.filter(f"{r.id_col} > cut").drop("cut")
    sbase = srel.groupBy("split").agg(
        F.sum(F.expr(r.measure)).cast("bigint").alias("base"))
    sman = r.agg(_release_pack_df(srel, r))
    dman = r.agg(_release_pack_df(drel, r, base=sbase))
    n = sman.columns[2]
    stored, delta = f"{n}_stored", f"{n}_delta"
    cols = sman.columns[2:] + [stored, delta]
    m = (sman.withColumns({stored: F.col(n), delta: F.lit(0)})
         .unionByName(dman.withColumns({stored: F.lit(0), delta: F.col(n)}))
         .groupBy("split", "shard_id")
         .agg(*[_roll(c).cast("bigint").alias(c) for c in cols]))
    return _split_audit_df(_with_path(m, r.prefix), ranged, r.agg)


def docs_release_refresh_df(spark, key: object = None):
    """The registered Spark form of :func:`docs_release_refresh_oracle`
    (:func:`release_refresh_df` over the session ranged rail)."""
    return release_refresh_df(
        spark.table(ensure_release_rel_view(spark, key=key)), DOC_RELEASE)


BUILDERS = {
    "docs_chunking": docs_chunking,
    "docs_split_token_budget": docs_split_token_budget,
    "docs_language_balance_plan": docs_language_balance_plan,
    "docs_curation_pipeline": docs_curation_pipeline,
    "docs_domain_cap": docs_domain_cap,
    "docs_merge_cdc": docs_merge_cdc,
    "docs_embedding_integrity": docs_embedding_integrity,
    "docs_importance_sample": docs_importance_sample,
    "docs_split_assign": docs_split_assign,
    "docs_pack_bins": docs_pack_bins,
    "text_vocab_topk": text_vocab_topk,
    "docs_contamination": docs_contamination,
    "docs_decontaminated": docs_decontaminated,
    "docs_length_histogram": docs_length_histogram,
    "docs_source_mix": docs_source_mix,
    "docs_temperature_mix": docs_temperature_mix,
    "docs_stratified_sample": docs_stratified_sample,
    "docs_pack_efficiency": docs_pack_efficiency,
    "docs_block_dedup": docs_block_dedup,
    "docs_boilerplate_topk": docs_boilerplate_topk,
    "docs_dataset_card": docs_dataset_card,
    "docs_blocklist_score": docs_blocklist_score,
    "docs_epoch_shuffle_plan": docs_epoch_shuffle_plan,
}
