"""Text-analysis operators over the ``documents`` table (extension
scope per BASELINE.json: language-ID, quality scoring, token counting,
document fingerprinting).

Each operator is a dual-dialect SQL builder (functions/dual.py): the
same template emits the Spark query and the DuckDB oracle, so the
correctness gate compares two renderings of one computation.

Scale posture: all pure projections — no shuffle at all except the
final aggregate-free scan; Catalyst fuses tokenization + scoring into
one whole-stage-codegen pass over the parquet scan, and the operators
compose (quality gate -> dedup -> ...) without materialization.
"""

from __future__ import annotations

from aws_trusted_advisor_explorer_spark.functions.dual import (
    Dialect, INT64_MAX, P_MOD,
)
from aws_trusted_advisor_explorer_spark.session import (
    materialize_plane_df, session_plane,
)

# Per-language discriminator token profiles for the n-gram/stopword
# language-ID heuristic. Fixed vocabulary, fixed priority order for
# argmax ties (en > de > es > fr > zh).
LANG_PROFILES: list[tuple[str, tuple[str, ...]]] = [
    ("en", ("the", "a", "table", "row", "order")),
    ("de", ("hash", "join", "key", "group", "window")),
    ("es", ("data", "query", "stream", "filter", "slow")),
    ("fr", ("scan", "batch", "line", "merge", "small")),
    ("zh", ("spark", "value", "column", "big", "customer")),
]

STOPWORDS = ("the", "a", "of", "and", "to", "in")


def _in_list(words: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


def _toks_cte(d: Dialect) -> str:
    return f"WITH t AS (SELECT doc_id, text, {d.tokens('text')} AS toks FROM documents)"


def text_token_stats(d: Dialect) -> str:
    """Token counting: whitespace tokens, alnum (BPE-ish regex) tokens,
    distinct tokens, type-token ratio, mean token length. Zero-token
    documents (no [a-z0-9] at all — CJK-only, emoji-only, empty) get
    NULL ratios: Spark's ANSI mode THROWS on the unguarded division
    while DuckDB returns NULL, so the CASE guard is what keeps the two
    engines row-identical on non-Latin corpora
    (tests/test_extensions.py unicode parity)."""
    n_ws = ("size(split(text, ' '))" if d.name == "spark"
            else "len(string_split(text, ' '))")
    n_tok = d.arr_len("toks")
    n_dist = d.arr_len(d.arr_distinct("toks"))
    sum_len = d.fold(d.transform("toks", "x", "cast(length(x) as bigint)"),
                     "cast(0 as bigint)", "a", "b", "a + b")
    ttr = (f"CASE WHEN {n_tok} = 0 THEN cast(NULL as double) "
           f"ELSE cast({n_dist} as double) / {n_tok} END")
    avg_len = (f"CASE WHEN {n_tok} = 0 THEN cast(NULL as double) "
               f"ELSE cast({sum_len} as double) / {n_tok} END")
    return f"""{_toks_cte(d)}
SELECT
  doc_id,
  cast(length(text) as bigint) AS n_chars,
  cast({n_ws} as bigint) AS n_ws_tokens,
  cast({n_tok} as bigint) AS n_tokens,
  cast({n_dist} as bigint) AS n_distinct_tokens,
  {ttr} AS type_token_ratio,
  {avg_len} AS avg_token_len
FROM t"""


def text_lang_id(d: Dialect) -> str:
    """Language-ID: token-profile scoring with a fixed-priority argmax.
    The synthetic corpus shares one vocabulary across its ``lang``
    labels, so the heuristic's output is a deterministic function of
    the text, oracle-checked — not a ground-truth recovery claim."""
    scores = {
        lang: d.arr_len(d.filter_("toks", "x", f"x IN {_in_list(words)}"))
        for lang, words in LANG_PROFILES
    }
    score_cols = ",\n  ".join(
        f"cast({expr} as bigint) AS score_{lang}" for lang, expr in scores.items())
    # fixed-priority argmax: first profile with score == greatest(...)
    greatest = "greatest(" + ", ".join(f"score_{l}" for l, _ in LANG_PROFILES) + ")"
    argmax = "CASE " + " ".join(
        f"WHEN score_{lang} = {greatest} THEN '{lang}'"
        for lang, _ in LANG_PROFILES) + " END"
    toks = d.tokens("text")
    return f"""WITH t AS (
  SELECT doc_id, lang, {toks} AS toks FROM documents
),
s AS (
  SELECT doc_id, lang AS lang_actual,
  {score_cols}
  FROM t
)
SELECT doc_id, lang_actual, {", ".join(f"score_{l}" for l, _ in LANG_PROFILES)},
  {argmax} AS lang_pred
FROM s"""


def text_quality(d: Dialect) -> str:
    """Quality scoring: length, stopword ratio, mean word length,
    type-token ratio -> weighted composite score in [0, ~1].
    Zero-token documents get NULL ratios and a NULL score via the same
    CASE guard as text_token_stats (Spark ANSI THROWS on the unguarded
    division while DuckDB returns NULL — the guard is what keeps the
    engines row-identical on non-Latin/empty docs)."""
    n_tok = d.arr_len("toks")
    n_dist = d.arr_len(d.arr_distinct("toks"))
    n_stop = d.arr_len(d.filter_("toks", "x", f"x IN {_in_list(STOPWORDS)}"))
    sum_len = d.fold(d.transform("toks", "x", "cast(length(x) as bigint)"),
                     "cast(0 as bigint)", "a", "b", "a + b")

    def ratio(num: str) -> str:
        return (f"CASE WHEN {n_tok} = 0 THEN cast(NULL as double) "
                f"ELSE cast({num} as double) / {n_tok} END")

    return f"""{_toks_cte(d)},
m AS (
  SELECT doc_id,
    cast({n_tok} as bigint) AS n_tokens,
    {ratio(n_stop)} AS stopword_ratio,
    {ratio(sum_len)} AS avg_word_len,
    {ratio(n_dist)} AS type_token_ratio
  FROM t
)
SELECT doc_id, n_tokens, stopword_ratio, avg_word_len, type_token_ratio,
  ((cast(least(n_tokens, 200) as double) / 200) * 0.3
   + stopword_ratio * 0.2
   + (least(avg_word_len, 8.0) / 8.0) * 0.2
   + type_token_ratio * 0.3) AS quality_score
FROM m"""


def text_fingerprint(d: Dialect, base: str | None = None) -> str:
    """Document fingerprinting: rolling polynomial hash of the
    normalized text plus the min 3-gram shingle hash (the winnowing
    anchor used by the near-dup operators).

    With ``base`` (the materialized shingle-hash view, Spark side —
    dedup.ensure_shingle_view) the min-shingle anchor is a groupBy over
    the cached relation instead of re-hashing every shingle; the values
    are identical because the view holds exactly the per-shingle
    poly_hash values this query would compute."""
    norm = d.arr_join("toks")
    fp = d.poly_hash("norm_text")
    if base is not None:
        return f"""{_toks_cte(d)},
n AS (SELECT doc_id, toks, {norm} AS norm_text FROM t),
m AS (SELECT doc_id, min(hv) AS mn FROM {base} GROUP BY doc_id)
SELECT n.doc_id,
  {fp} AS fingerprint,
  coalesce(m.mn, cast({P_MOD} as bigint)) AS min_shingle_hash
FROM n LEFT JOIN m ON m.doc_id = n.doc_id"""
    sh = d.shingles("toks", 3)
    min_sh = d.arr_min(d.transform(sh, "s", d.poly_hash("s")))
    return f"""{_toks_cte(d)},
n AS (SELECT doc_id, toks, {norm} AS norm_text FROM t)
SELECT doc_id,
  {fp} AS fingerprint,
  coalesce({min_sh}, cast({P_MOD} as bigint)) AS min_shingle_hash
FROM n"""


REP_DUP_RATIO = 0.30   # duplicate 3-gram fraction gate (Gopher-style)
REP_TOP_RATIO = 0.18   # most-frequent 3-gram fraction gate
REP_MIN_SHINGLES = 10  # below this the ratios are too noisy to flag


def text_repetition(d: Dialect, base: str | None = None) -> str:
    """Within-document repetition stats (the Gopher/MassiveText-style
    repeated-n-gram filter): per doc, the total / distinct 3-gram
    shingle counts, the duplicate-shingle fraction, the share of the
    single most frequent shingle, and a repetitiveness verdict
    (``dup_ngram_ratio > {REP_DUP_RATIO}`` or ``top_ngram_ratio >
    {REP_TOP_RATIO}``, gated to docs with >= {REP_MIN_SHINGLES}
    shingles). Docs shorter than 3 tokens have no shingles and are
    absent (they belong to the length gate, not this one).

    Two per-doc aggregations, both map-side-combining; with ``base``
    (dedup.ensure_shingle_view) the shingle explode+hash prefix is read
    from the session-materialized view. Integer aggregates only —
    ratios derive from exact counts, so cross-engine parity is exact."""
    if base is not None:
        head = f"WITH s AS (SELECT doc_id, hv FROM {base})"
    else:
        sh = d.shingles("toks", 3)
        head = f"""{_toks_cte(d)},
e AS (SELECT doc_id, {d.explode(sh)} AS shingle FROM t),
s AS (SELECT doc_id, {d.poly_hash('shingle')} AS hv FROM e)"""
    return f"""{head},
c AS (SELECT doc_id, hv, count(*) AS cnt FROM s GROUP BY doc_id, hv),
a AS (
  SELECT doc_id, sum(cnt) AS n_shingles, count(*) AS n_distinct,
    max(cnt) AS max_cnt
  FROM c GROUP BY doc_id
)
SELECT doc_id,
  cast(n_shingles as bigint) AS n_shingles,
  cast(n_distinct as bigint) AS n_distinct,
  1.0 - cast(n_distinct as double) / n_shingles AS dup_ngram_ratio,
  cast(max_cnt as double) / n_shingles AS top_ngram_ratio,
  CASE WHEN n_shingles >= {REP_MIN_SHINGLES}
        AND (1.0 - cast(n_distinct as double) / n_shingles > {REP_DUP_RATIO}
             OR cast(max_cnt as double) / n_shingles > {REP_TOP_RATIO})
       THEN 1 ELSE 0 END AS is_repetitive
FROM a"""


def docs_quality_gate(d: Dialect) -> str:
    """Composed curation pipeline: quality-score filter + exact-dedup
    keep-first — the shape of a pretraining data cleaning pass. The
    dedup window partitions on md5(text), projected before the
    exchange, so the shuffle moves (doc_id, key, 2 metrics) and never
    the document text (the 100 TB cost)."""
    n_tok = d.arr_len("toks")
    n_dist = d.arr_len(d.arr_distinct("toks"))
    return f"""{_toks_cte(d)},
m AS (
  SELECT doc_id, md5(text) AS content_key,
    cast({n_tok} as bigint) AS n_tokens,
    CASE WHEN {n_tok} = 0 THEN cast(NULL as double)
      ELSE cast({n_dist} as double) / {n_tok} END AS type_token_ratio
  FROM t
),
kept AS (
  SELECT doc_id, n_tokens, type_token_ratio,
    min(doc_id) OVER (PARTITION BY content_key) AS keeper_id
  FROM m
  WHERE n_tokens >= 10 AND type_token_ratio >= 0.31
)
SELECT doc_id, n_tokens, type_token_ratio
FROM kept WHERE doc_id = keeper_id"""


def docs_top_quality(d: Dialect) -> str:
    """Sort + limit shape: top 20 documents by quality score with a
    deterministic (score DESC, doc_id) tiebreak. Scores are
    cross-engine bit-identical doubles, so the ordering agrees."""
    base = text_quality(d)
    return f"""WITH q AS (
{base}
)
SELECT doc_id, n_tokens, quality_score
FROM q
ORDER BY quality_score DESC, doc_id
LIMIT 20"""


def docs_rejected(d: Dialect) -> str:
    """Set-operation shape: documents EXCEPT the quality-gate
    survivors = the rejected set (low quality or duplicate)."""
    gate = docs_quality_gate(d)
    return f"""WITH g AS (
{gate}
)
SELECT doc_id FROM documents
EXCEPT
SELECT doc_id FROM g"""


def docs_curation_drift(d: Dialect) -> str:
    """Curation composition-shift audit: per-language token shares
    BEFORE vs AFTER the quality gate, with the share delta and keep
    rate — the bias check a pretraining pipeline runs on every filter
    (quality heuristics are known to skew language/source mixtures;
    this is the number that catches it before training does). All
    shares are integer ppm from exact token totals (single idiv per
    row, scalar-subquery totals — no float Σ, no cross join), so the
    report is cross-engine exact. Languages the gate empties keep
    their row (LEFT join + coalesce, share_after 0); an empty
    survivor set degrades every after-share to 0 via the zero-guard
    instead of dividing by zero, and a zero-token corpus (all-CJK)
    degrades the before-shares the same way.

    Int64 bound (money-sum discipline): shares compute
    ``tokens · 1e6``, safe while corpus totals stay under ~9.2e12
    tokens (same bound as docs_language_balance_plan); past that,
    drop the ppm scale to per-mille.

    Scale posture: the gate CTE is the existing operator verbatim;
    both aggregates are (lang)-keyed map-side-combining passes over
    projections, every later relation is language-cardinality."""
    gate = docs_quality_gate(d)
    n_toks = d.arr_len(d.tokens("text"))
    return f"""WITH g AS (
{gate}
),
b AS (
  SELECT lang, cast(count(*) as bigint) AS docs_before,
    cast(sum({n_toks}) as bigint) AS toks_before
  FROM documents GROUP BY lang
),
a AS (
  SELECT dd.lang, cast(count(*) as bigint) AS docs_after,
    cast(sum(g.n_tokens) as bigint) AS toks_after
  FROM g JOIN documents dd ON dd.doc_id = g.doc_id
  GROUP BY dd.lang
)
SELECT b.lang, b.docs_before, coalesce(a.docs_after, 0) AS docs_after,
  b.toks_before, coalesce(a.toks_after, 0) AS toks_after,
  CASE WHEN (SELECT sum(toks_before) FROM b) = 0 THEN cast(0 as bigint)
    ELSE cast({d.idiv('(b.toks_before * 1000000)',
                      '(SELECT cast(sum(toks_before) as bigint) FROM b)')}
              as bigint)
  END AS share_before_ppm,
  CASE WHEN (SELECT sum(toks_after) FROM a) IS NULL THEN cast(0 as bigint)
    ELSE cast({d.idiv('(coalesce(a.toks_after, 0) * 1000000)',
                      '(SELECT cast(sum(toks_after) as bigint) FROM a)')}
              as bigint)
  END AS share_after_ppm,
  CASE WHEN b.toks_before = 0 THEN cast(0 as bigint)
    ELSE cast({d.idiv('(coalesce(a.toks_after, 0) * 1000000)',
                      'b.toks_before')} as bigint)
  END AS keep_rate_ppm
FROM b LEFT JOIN a ON a.lang = b.lang"""


def text_commonness_score(d: Dialect, base: str | None = None) -> str:
    """Unigram-frequency quality proxy (the word-frequency filter used
    before LM-based scoring exists): per document, the mean corpus
    frequency of its tokens — prose made of common words scores high,
    gibberish/IDs score low. Integer-exact across engines (counts sum;
    one final division).

    Scale posture: the vocabulary relation is heavy-hitter-sized, so
    at 100 TB the doc-side join is a broadcast of the (capped) vocab —
    AQE already picks broadcast here; the vocab build itself is the
    text_vocab_topk shape (map-side-combining groupBy, vocab-sized
    output), and the count-min rung that would bound it further is
    implemented in events_cms_heavy_hitters (sketchops). The token CTE
    is referenced twice (vocab build + probe);
    the driver path reads the session-materialized positional token
    plane (``base`` = dedup.ensure_span_views' TOKEN_POS_VIEW), and
    the inlined oracle form's repeated scan is DELIBERATE: both
    evaluations are skew-free codegen scans, whereas the
    single-evaluation alternative (count(*) OVER (PARTITION BY tok))
    has no map-side combine and lands every occurrence of a Zipfian
    head token in ONE window partition — a straggler/OOM at corpus
    scale. Same trade in text_bigram_surprise."""
    toks = d.tokens("text")
    if base is not None:
        head = f"WITH e AS (SELECT doc_id, tok FROM {base})"
    else:
        head = f"""WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
e AS (SELECT doc_id, {d.explode('toks')} AS tok FROM t)"""
    return f"""{head},
vf AS (SELECT tok, count(*) AS freq FROM e GROUP BY tok)
SELECT e.doc_id,
  cast(count(*) as bigint) AS n_tokens,
  cast(sum(vf.freq) as bigint) AS sum_token_freq,
  cast(sum(vf.freq) as double) / count(*) AS mean_token_freq
FROM e JOIN vf ON vf.tok = e.tok
GROUP BY e.doc_id"""


TFIDF_TOP_K = 5


def text_tfidf_topk(d: Dialect, base: str | None = None) -> str:
    """Per-document top-{TFIDF_TOP_K} keywords by TF-IDF. The idf is
    integer-scaled — ``idf_milli = (n_docs * 1000) div df`` — instead
    of ``ln(N/df)``: transcendental libm results are not guaranteed
    bit-identical across engines, and the integer form preserves the
    ranking property that matters (monotone in tf, antitone in df)
    while making every score an exact bigint (same rule as the
    histogram's integer banding). Ties break on term ascending, so the
    top-k set is fully deterministic.

    Scale posture: tf is one (doc_id, term) map-side-combining
    aggregate; df aggregates the tf relation (already one row per
    (doc, term)) — never the raw token stream twice AS WRITTEN, though
    Spark inlines the tf CTE into both its references, so the driver
    path reads the session-materialized positional token plane
    (``base``) to keep the tokenize+explode prefix to one real
    evaluation; the df join is a vocab-sized dimension (broadcast at
    heavy-hitter scale, AQE-picked here); the top-k is a row_number
    window partitioned by doc_id — distributed per-doc, no global
    sort."""
    toks = d.tokens("text")
    if base is not None:
        head = f"WITH e AS (SELECT doc_id, tok AS term FROM {base})"
    else:
        head = f"""WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
e AS (SELECT doc_id, {d.explode('toks')} AS term FROM t)"""
    return f"""{head},
tf AS (
  SELECT doc_id, term, cast(count(*) as bigint) AS tf
  FROM e GROUP BY doc_id, term
),
df AS (SELECT term, cast(count(*) as bigint) AS df FROM tf GROUP BY term),
n AS (SELECT cast(count(*) as bigint) AS n_docs FROM documents),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
    tf.tf * {d.idiv('(SELECT n_docs FROM n) * 1000', 'df.df')} AS score
  FROM tf JOIN df ON df.term = tf.term
),
r AS (
  SELECT doc_id, term, tf, df, score,
    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
  FROM s
)
SELECT doc_id, term, tf, df, cast(score as bigint) AS score,
  cast(rk as bigint) AS rk
FROM r WHERE rk <= {TFIDF_TOP_K}"""


def text_bigram_surprise(d: Dialect) -> str:
    """Bigram language-model surprise score — the cheap statistical
    stand-in for perplexity-based quality filtering (the next rung
    above :func:`text_commonness_score`'s unigram model). For each
    bigram occurrence (w1, w2), surprise is the inverse conditional
    probability, integer-scaled for cross-engine exactness:
    ``surprise_milli = (n(w1·) * 1000) div n(w1 w2)`` where ``n(w1·)``
    counts all bigrams starting with w1 in the corpus. Per doc:
    bigram count, total, and mean (bigint / bigint — one double
    division, deterministic). High mean = text the corpus model finds
    unpredictable (gibberish or out-of-domain); low = formulaic.

    Scale posture: the occurrence relation is linear in corpus tokens;
    the bigram-count table aggregates it with map-side combine and the
    probe join is a vocab-sized dimension (broadcast at scale). The
    occurrence CTE is referenced twice (bigram-count build + probe)
    and Spark re-evaluates it per reference — that repeated scan is
    DELIBERATE: each evaluation is a skew-free codegen scan, whereas
    the single-evaluation window form (count(*) OVER (PARTITION BY
    bigram)) has no partial aggregation and serializes every
    occurrence of a Zipfian head word into one window partition — the
    straggler that kills the job at corpus scale (same trade as
    text_commonness_score). The leading-word counts need NO third
    scan AND no occurrence-level window: every occurrence contributes
    exactly one bigram, so n1 is a window sum of n12 over the
    VOCAB-sized bigram-count relation (a distinct head word owns at
    most |following vocab| rows there, never its occurrence count —
    attaching n1 as a third join instead would re-evaluate the c12
    aggregate and with it the whole occurrence scan under CTE
    inlining; measured 1.30s -> 0.84s at sf0.1)."""
    toks = d.tokens("text")
    w1 = d.elem(d.split("bigram", " "), "1")
    return f"""WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
bg AS (SELECT doc_id, {d.explode(d.shingles('toks', 2))} AS bigram FROM t),
c12 AS (SELECT bigram, cast(count(*) as bigint) AS n12 FROM bg GROUP BY bigram),
cw AS (
  SELECT bigram, n12,
    cast(sum(n12) OVER (PARTITION BY {w1}) as bigint) AS n1
  FROM c12
),
s AS (
  SELECT o.doc_id, {d.idiv('(cw.n1 * 1000)', 'cw.n12')} AS surprise_milli
  FROM bg o
  JOIN cw ON cw.bigram = o.bigram
)
SELECT doc_id,
  cast(count(*) as bigint) AS n_bigrams,
  cast(sum(surprise_milli) as bigint) AS total_surprise_milli,
  cast(sum(surprise_milli) as bigint) / cast(count(*) as bigint)
    AS mean_surprise_milli
FROM s GROUP BY doc_id"""


LM_REF_PCT = 20   # reference-slice share (salted id-hash percent)
LM_SCALE = 1000   # milli units for the integer surprise score


def lm_model_ctes(d: Dialect) -> str:
    """The reference-LM TRAINING relations as a CTE chain — c12
    (per-language bigram counts from the reference slice), ch (head
    counts, an aggregate of c12), vl (per-language head-vocab sizes)
    — the frozen model text_lm_score_ref scores against. The salted
    ref-slice hash (an interpreted per-character fold) is computed
    ONCE per document in t and carried as a boolean through the
    occurrence relation — filtering bg on the hash expression directly
    would re-run the fold once per bigram occurrence (the
    _nb_train_ctes shape)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import id_hash_pct

    toks = d.tokens("text")
    w1 = d.elem(d.split("bigram", " "), "1")
    pct = id_hash_pct(d, "doc_id", "lm")
    return f"""t AS (SELECT doc_id, lang, {toks} AS toks,
  ({pct} < {LM_REF_PCT}) AS in_ref FROM documents),
bg0 AS (SELECT doc_id, lang, in_ref,
  {d.explode(d.shingles('toks', 2))} AS bigram FROM t),
bg AS (SELECT doc_id, lang, in_ref, bigram, {w1} AS w1h FROM bg0),
c12 AS (
  SELECT lang, bigram, cast(count(*) as bigint) AS n12
  FROM bg WHERE in_ref
  GROUP BY lang, bigram
),
ch AS (
  SELECT lang, {w1} AS w1h, cast(sum(n12) as bigint) AS n1
  FROM c12 GROUP BY lang, {w1}
),
vl AS (
  SELECT lang, cast(count(*) as bigint) AS v FROM ch GROUP BY lang
)"""


DSIR_BUCKETS = 1024   # hashed-feature dimensionality (DSIR's memory
                      # bound: counts live in a FIXED-size vector no
                      # matter the vocabulary)
DSIR_SCALE = 1000     # milli units for the integer importance ratio


def _dsir_headroom_guard(d: Dialect) -> str:
    """The DSIR docstring's int64 bound as enforced code (VERDICT r9
    task 6): the cleared-denominator ratio multiplies
    (ct+1)(rr+B)·{DSIR_SCALE} and (cr+1)(rt+B); with ct ≤ rt and
    cr ≤ rr the conservative corpus-total conditions are
    (rt+1)(rr+B)·scale ≤ 2^63-1 and (rr+1)(rt+B) ≤ 2^63-1, each
    rewritten divide-first (rt+1 ≤ MAX div scale div (rr+B)) so the
    guard's own arithmetic cannot overflow. Evaluated on the
    ≤{DSIR_BUCKETS}-row weight relation — free — and raises with the
    production swap named."""
    b = DSIR_BUCKETS
    cap_num = d.idiv(d.idiv(str(INT64_MAX), str(DSIR_SCALE)),
                     f"(rr + {b})")
    cap_den = d.idiv(str(INT64_MAX), f"(rt + {b})")
    return d.check(
        f"(rt + 1) <= {cap_num} AND (rr + 1) <= {cap_den}",
        "docs_dsir_importance: int64 headroom exceeded for the "
        "cleared-denominator milli ratio; swap to double scores at "
        "this corpus scale")


def docs_dsir_importance(d: Dialect) -> str:
    """DSIR importance weighting (Xie et al. 2023, Data Selection via
    Importance Resampling): per doc, how much more likely its tokens
    are under the TARGET distribution than under the raw-corpus
    distribution, over HASHED features — the data-selection score a
    pipeline samples against to skew a raw crawl toward a trusted
    slice. The target here is the same {LM_REF_PCT}%-by-salted-id-hash
    reference slice the CCNet LM scorer trains on (one corpus-wide
    notion of "reference"), so the two selection signals are directly
    comparable.

    Arithmetic (cross-engine exact): tokens hash into
    {DSIR_BUCKETS} fixed buckets (DSIR's hashed n-gram memory bound);
    per-feature Laplace-smoothed probabilities pt=(ct+1)/(Rt+B),
    pr=(cr+1)/(Rr+B) become ONE cleared-denominator integer milli
    ratio w = ((ct+1)(Rr+B)·{DSIR_SCALE}) div ((cr+1)(Rt+B)); the doc
    score is the integer MEAN of its occurrences' feature weights (the
    text_nb_quality_score / text_commonness_score precedent — the
    paper's log-sum becomes an arithmetic mean of odds so the score
    stays an exact bigint; the RANKING a sampler consumes is what
    matters, not the units). int64 headroom: (ct+1)(Rr+B)·1000 must
    stay under 2^63 — safe while per-feature target count × raw total
    < ~9.2e15 (e.g. 1e6 × 1e9); past that the production swap is
    doubles, exactly the BM25 bound note. The bound is ENFORCED
    in-plan (d.check on the {DSIR_BUCKETS}-row weight relation, both
    engines): conservative conditions (Rt+1)(Rr+B)·{DSIR_SCALE} ≤
    2^63-1 and (Rr+1)(Rt+B) ≤ 2^63-1 — each evaluated divide-first so
    the guard itself cannot overflow — fail the query loudly instead
    of letting a wrapped bigint silently corrupt the sampler's
    ranking. Zero-token docs keep a NULL-score row (the gate family's
    row-preserving rule).

    Scale posture (100 TB): one token explode feeds a map-side-
    combining groupBy into the {DSIR_BUCKETS}-row feature relation;
    the totals are an unpartitioned window over THAT bounded relation
    (plan-audit allowlisted, the docs_kmv_distinct_union class); the
    weight table broadcasts back to the token stream; one doc_id
    groupBy. Nothing downstream of the explode is corpus-scale."""
    from aws_trusted_advisor_explorer_spark.functions.dual import (
        id_hash_pct,
    )

    toks = d.tokens("text")
    pct = id_hash_pct(d, "doc_id", "lm")
    feat = f"({d.poly_hash('tok')} % {DSIR_BUCKETS})"
    w = d.idiv(f"((ct + 1) * (rr + {DSIR_BUCKETS}) * {DSIR_SCALE})",
               f"((cr + 1) * (rt + {DSIR_BUCKETS}))")
    return f"""WITH t AS (
  SELECT doc_id, {toks} AS toks, ({pct} < {LM_REF_PCT}) AS is_target
  FROM documents
),
tok0 AS (SELECT doc_id, is_target, {d.explode('toks')} AS tok FROM t),
tok AS (SELECT doc_id, is_target, {feat} AS f FROM tok0),
cf AS (
  SELECT f,
    cast(sum(CASE WHEN is_target THEN 1 ELSE 0 END) as bigint) AS ct,
    cast(sum(CASE WHEN is_target THEN 0 ELSE 1 END) as bigint) AS cr
  FROM tok GROUP BY f
),
ft AS (
  SELECT f, ct, cr,
    sum(ct) OVER () AS rt,
    sum(cr) OVER () AS rr
  FROM cf
),
w AS (
  SELECT f, cast({w} as bigint) AS w_milli FROM ft
  WHERE {_dsir_headroom_guard(d)} IS NULL
),
p AS (
  SELECT tok.doc_id,
    cast(count(*) as bigint) AS n_tokens,
    cast(sum(w.w_milli) as bigint) AS total_w
  FROM tok JOIN w ON w.f = tok.f
  GROUP BY tok.doc_id
)
SELECT docs.doc_id,
  coalesce(p.n_tokens, cast(0 as bigint)) AS n_tokens,
  CASE WHEN p.n_tokens IS NULL THEN NULL
       ELSE cast({d.idiv('p.total_w', 'p.n_tokens')} as bigint)
  END AS dsir_milli,
  ({id_hash_pct(d, 'docs.doc_id', 'lm')} < {LM_REF_PCT}) AS is_target
FROM documents docs LEFT JOIN p ON p.doc_id = docs.doc_id"""


def docs_dsir_importance_df(spark):
    """Registered Spark twin of :func:`docs_dsir_importance` (r12):
    the hashed-feature relation (doc_id, f) comes from the Arrow
    kernel (dedup's exact per-token char fold, then ``% DSIR_BUCKETS``
    — bit-identical integers to the SQL ``poly_hash(tok)``), and
    everything downstream (per-feature counts, the bounded totals
    window, the in-plan headroom guard, the weight join, the per-doc
    mean, the row-preserving LEFT JOIN) is the same SQL. The
    self-contained SQL form stays the DuckDB oracle; equality pinned
    by test_dsir_twin_matches_sql."""
    from aws_trusted_advisor_explorer_spark.functions.dual import (
        SPARK as d, id_hash_pct,
    )
    from aws_trusted_advisor_explorer_spark.operators.dedup import (
        _token_fold_AB, _tokenize_batch,
    )

    def feat_kernel(batches):
        import numpy as np
        import pandas as pd

        from aws_trusted_advisor_explorer_spark.functions.dual import (
            HASH_INIT, P_MOD,
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
            f = ((HASH_INIT * A + B) % P_MOD) % DSIR_BUCKETS
            yield pd.DataFrame({
                "doc_id": np.repeat(doc_ids, ntoks), "f": f})

    from aws_trusted_advisor_explorer_spark.session import kernel_partitions

    # repartition before the kernel: single-file corpus scan = one
    # task otherwise (r13 — see dedup.ensure_gram_fold_view)
    docs_rel = spark.table("documents").select("doc_id", "text")
    feats = (docs_rel.repartition(kernel_partitions(docs_rel))
             .mapInPandas(feat_kernel, schema="doc_id long, f bigint")
             # the tok CTE (kernel join flag) is read by BOTH the cf
             # count arm and the p per-doc rollup; a Python eval node
             # is opaque (no reuse, no pushdown through it), so
             # without the checkpoint the token fold ran once PER ARM
             # (r12: measured 1.83 s -> 1.39 s at sf0.1; the
             # checkpoint is (doc_id, f) skinny rows)
             .localCheckpoint(eager=False))
    feats.createOrReplaceTempView("__dsir_feats")
    pct = id_hash_pct(d, "doc_id", "lm")
    w = d.idiv(f"((ct + 1) * (rr + {DSIR_BUCKETS}) * {DSIR_SCALE})",
               f"((cr + 1) * (rt + {DSIR_BUCKETS}))")
    return spark.sql(f"""WITH flag AS (
  SELECT doc_id, ({pct} < {LM_REF_PCT}) AS is_target FROM documents
),
tok AS (
  SELECT k.doc_id, fl.is_target, k.f
  FROM __dsir_feats k JOIN flag fl ON fl.doc_id = k.doc_id
),
cf AS (
  SELECT f,
    cast(sum(CASE WHEN is_target THEN 1 ELSE 0 END) as bigint) AS ct,
    cast(sum(CASE WHEN is_target THEN 0 ELSE 1 END) as bigint) AS cr
  FROM tok GROUP BY f
),
ft AS (
  SELECT f, ct, cr,
    sum(ct) OVER () AS rt,
    sum(cr) OVER () AS rr
  FROM cf
),
w AS (
  SELECT f, cast({w} as bigint) AS w_milli FROM ft
  WHERE {_dsir_headroom_guard(d)} IS NULL
),
p AS (
  SELECT tok.doc_id,
    cast(count(*) as bigint) AS n_tokens,
    cast(sum(w.w_milli) as bigint) AS total_w
  FROM tok JOIN w ON w.f = tok.f
  GROUP BY tok.doc_id
)
SELECT docs.doc_id,
  coalesce(p.n_tokens, cast(0 as bigint)) AS n_tokens,
  CASE WHEN p.n_tokens IS NULL THEN NULL
       ELSE cast({d.idiv('p.total_w', 'p.n_tokens')} as bigint)
  END AS dsir_milli,
  ({id_hash_pct(d, 'docs.doc_id', 'lm')} < {LM_REF_PCT}) AS is_target
FROM documents docs LEFT JOIN p ON p.doc_id = docs.doc_id""")


def _lm_score_sql(d: Dialect) -> str:
    """Shared body of :func:`text_lm_score_ref` (also consumed by
    docs_ccnet_buckets and the _df twin)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import id_hash_pct

    pct = id_hash_pct(d, "doc_id", "lm")
    return f"""WITH {lm_model_ctes(d)},
s AS (
  SELECT b.doc_id, b.lang,
    {d.idiv(f'((coalesce(ch.n1, 0) + coalesce(vl.v, 1)) * {LM_SCALE})',
            '(coalesce(c.n12, 0) + 1)')} AS nlp_milli
  FROM bg b
  LEFT JOIN c12 c ON c.lang = b.lang AND c.bigram = b.bigram
  LEFT JOIN ch ON ch.lang = b.lang AND ch.w1h = b.w1h
  LEFT JOIN vl ON vl.lang = b.lang
)
SELECT doc_id, lang,
  cast(count(*) as bigint) AS n_bigrams,
  cast(sum(nlp_milli) as bigint) AS total_nlp_milli,
  {d.idiv('cast(sum(nlp_milli) as bigint)', 'cast(count(*) as bigint)')}
    AS score_milli,
  ({pct} < {LM_REF_PCT}) AS is_ref
FROM s GROUP BY doc_id, lang"""


def text_lm_score_ref(d: Dialect) -> str:
    """CCNet-style reference-model fluency scoring (Wenzek et al.
    2020): train a per-LANGUAGE add-one-smoothed bigram LM on a
    deterministic reference slice of the corpus ({LM_REF_PCT}% by
    salted id-hash — the stand-in for CCNet's Wikipedia reference
    models), then score EVERY document against its language's model.
    The integer-exact surprise stand-in for perplexity (the
    :func:`text_bigram_surprise` precedent) is the inverse smoothed
    conditional probability in milli units per bigram occurrence:
    ``nlp_milli = ((n1 + V) * {LM_SCALE}) div (n12 + 1)`` with
    n12/n1 the REFERENCE counts of the bigram and its head word and V
    the per-language head-vocabulary size — an unseen bigram under a
    seen head scores (n1+V)·{LM_SCALE}, an unseen head V·{LM_SCALE},
    and a language with no reference docs at all degrades to a
    constant {LM_SCALE} per bigram (coalesced, never drops rows).
    Emits per doc the bigram count, total, integer mean
    ``score_milli`` (the downstream bucketing key), and ``is_ref`` so
    consumers can exclude the slice the model saw. Docs with < 2
    tokens produce no bigrams and no row (same rule as the shingle
    plane).

    Overflow bound (money-sum discipline): per-doc total <
    n_bigrams · (n1_max + V) · {LM_SCALE}; int64-safe while
    n1_max · doc_bigrams < 9.2e15 — holds to ~1e12-token reference
    models with 1e3-bigram docs; past that drop LM_SCALE.

    Scale posture (100 TB): the occurrence relation is linear in
    corpus tokens and the model relations are all vocab-sized
    dimensions — bigram counts (c12), head counts (ch, an aggregate
    of c12 so the probe sees n1 even for bigrams the reference never
    saw), and per-language vocab (vl); three left joins against
    broadcast-sized sides, no occurrence-level window anywhere (the
    text_bigram_surprise trade). bg is referenced twice (model build
    + probe) — two skew-free codegen scans under CTE inlining,
    deliberately cheaper than any occurrence-level window."""
    return _lm_score_sql(d)


def docs_ccnet_buckets(d: Dialect) -> str:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.3):
    assign every scored document to a per-language fluency tercile of
    the :func:`text_lm_score_ref` distribution — head = lowest
    surprise (the slice CCNet keeps), tail = highest. The bucket is
    CDF-based and tie-stable: with ``chi`` = docs of the same language
    scoring <= mine (the default RANGE window includes ties) and ``n``
    the language total, ``bucket = 1 + (chi-1)*3 div n`` — every doc
    sharing a score shares a bucket, so the assignment is
    order-independent and engine-exact.

    This SQL form ranks per-doc rows in one window partition per
    language — exact, and the exchange carries only (doc_id, lang, 2
    ints), but a 100 TB language is still one sort partition; the
    distributed twin :func:`docs_ccnet_buckets_df` (the wired Spark
    path) computes the same CDF over the COMPACTED (lang, score)
    distribution and broadcast-joins the tercile map back — identical
    integers, verified by test."""
    return f"""WITH sc AS (
{_lm_score_sql(d)}
),
r AS (
  SELECT doc_id, lang, score_milli, n_bigrams,
    cast(count(*) OVER (PARTITION BY lang ORDER BY score_milli)
         as bigint) AS chi,
    cast(count(*) OVER (PARTITION BY lang) as bigint) AS n
  FROM sc
)
SELECT doc_id, lang, score_milli, n_bigrams,
  CASE cast(1 + {d.idiv('(chi - 1) * 3', 'n')} as int)
    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM r"""


def docs_ccnet_buckets_df(spark):
    """Distributed twin of :func:`docs_ccnet_buckets`: materialize the
    per-doc score relation once (localCheckpoint — it feeds both the
    distribution build and the final assign, and Catalyst CTE inlining
    would otherwise re-run the whole scoring chain per reference),
    compact it to the per-(lang, score_milli) distribution, window the
    CDF over THAT (distribution-sized partitions, never per-doc), and
    broadcast the tercile map back onto the scores. Identical integers
    to the SQL window form (CDF of a tie-grouped integer key),
    verified by test."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    sc = spark.sql(_lm_score_sql(SPARK)).localCheckpoint(eager=False)
    dist = sc.groupBy("lang", "score_milli").agg(
        F.count("*").cast("bigint").alias("nd"))
    w_cdf = (Window.partitionBy("lang").orderBy("score_milli")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_tot = Window.partitionBy("lang")
    buckets = (dist
               .withColumn("chi", F.sum("nd").over(w_cdf))
               .withColumn("n", F.sum("nd").over(w_tot))
               .withColumn(
                   "bucket",
                   F.element_at(
                       F.array(F.lit("head"), F.lit("middle"),
                               F.lit("tail")),
                       F.expr("cast(1 + ((chi - 1) * 3 div n) as int)")))
               .select("lang", "score_milli", "bucket"))
    return (sc.join(F.broadcast(buckets), ["lang", "score_milli"])
            .select("doc_id", "lang", "score_milli", "n_bigrams", "bucket"))


def text_lang_confusion(d: Dialect) -> str:
    """Language-ID evaluation: the (actual x predicted) confusion
    matrix over :func:`text_lang_id` — the acceptance report for any
    classifier heuristic before it gates a corpus. Languages-sized
    output; one map-side-combining aggregate over the scored docs."""
    base = text_lang_id(d)
    return f"""WITH p AS (
{base}
)
SELECT lang_actual, lang_pred, cast(count(*) as bigint) AS n_docs
FROM p GROUP BY lang_actual, lang_pred"""


BPE_TOP_PAIRS = 20


def text_bpe_pair_counts(d: Dialect) -> str:
    """The BPE-training inner loop as a corpus query: global counts of
    adjacent character pairs WITHIN tokens, top-{BPE_TOP_PAIRS} by
    frequency (deterministic (count DESC, pair) tiebreak). Iterating
    this count → merge → re-count is exactly how a BPE tokenizer
    vocabulary is trained; one round over the corpus is the expensive
    distributed step (the merge table is driver-side and tiny).

    Scale posture (100 TB): explode to (pair) rows feeds ONE hash
    aggregate with map-side combine — pair cardinality is alphabet²
    (tiny), so the reduce side is trivial regardless of corpus size;
    top-k is a TakeOrdered over the aggregate, no global sort."""
    pair_arr = (f"transform(sequence(1, length(tok) - 1), "
                f"i -> substring(tok, i, 2))" if d.name == "spark"
                else f"list_transform(range(1, greatest(length(tok), 1)), "
                     f"i -> substring(tok, i, 2))")
    guard = ("CASE WHEN length(tok) < 2 THEN "
             "cast(array() as array<string>) ELSE " + pair_arr + " END"
             if d.name == "spark" else pair_arr)
    return f"""{_toks_cte(d)},
w AS (SELECT {d.explode('toks')} AS tok FROM t),
p AS (SELECT {d.explode(f'({guard})')} AS pair FROM w)
SELECT pair, cast(count(*) as bigint) AS n
FROM p WHERE length(pair) = 2
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {BPE_TOP_PAIRS}"""


def text_tokenizer_coverage(d: Dialect) -> str:
    """Tokenizer LOSS audit: per document, how many characters the
    alnum tokenizer actually captures vs what it silently throws away
    (everything that is neither a token character nor plain
    whitespace) — the lossy-tokenization check run before trusting
    token counts as corpus size. Runs over the sanitize plane's
    planted-damage ``raw`` derivation (sanitize_parts) so the audit
    sees the dirty-ingest text the hygiene pass sees: residual > 0
    exactly on the damaged rows.

    Pure codegen projection, zero shuffles; counts are exact bigints,
    coverage is one division. Whitespace counts ALL of space/tab/
    newline/CR (the characters the sanitize plane treats as legitimate
    separators) via the same regexp length-delta trick as the control
    count — counting only ' ' would misclassify tab/newline into
    n_residual and overstate tokenizer loss (round-2 advice item)."""
    raw, _, _, _, _ = sanitize_parts(d)
    toks = d.tokens("raw")
    tok_chars = d.fold(
        d.transform(toks, "x", "cast(length(x) as bigint)"),
        "cast(0 as bigint)", "a", "b", "a + b")
    # raw regex — Dialect.re_replace owns the Spark literal doubling
    ws_pat = "[ \\t\\n\\r]"
    n_space = (f"cast(length(raw) - "
               f"length({d.re_replace('raw', ws_pat, '')}) as bigint)")
    return f"""WITH r AS (
  SELECT doc_id, {raw} AS raw FROM documents
),
m AS (
  SELECT doc_id,
    cast(length(raw) as bigint) AS n_chars,
    cast({tok_chars} as bigint) AS n_token_chars,
    {n_space} AS n_whitespace
  FROM r
)
SELECT doc_id, n_chars, n_token_chars, n_whitespace,
  n_chars - n_token_chars - n_whitespace AS n_residual,
  CASE WHEN n_chars = 0 THEN cast(NULL as double)
       ELSE cast(n_token_chars as double) / n_chars
  END AS token_coverage
FROM m"""


CALIB_KEEP_PCT = 80  # calibrate the gate to keep this share of docs


def docs_quality_cutoff_calibration(d: Dialect) -> str:
    """Gate CALIBRATION (the inverse of docs_quality_gate): given a
    target keep share, find the quality-score cutoff by exact rank
    selection — rank docs by (score DESC, doc_id), keep the top
    floor(n*{CALIB_KEEP_PCT}/100), and report the cutoff score (the
    lowest kept score) with the realized keep rate. A fixed threshold
    drifts as the corpus mix shifts; calibrating to a budget is how
    production curation actually sets the knob.

    One scored projection + one rank window over (score, doc_id) —
    deterministic total order, no approx drift — then ONE aggregate
    over the ranked relation (the cutoff is a conditional min, no
    correlated subquery, no extra join); one-row output. The global
    rank window here is the ORACLE form only (single-partition sort);
    the WIRED Spark plan is :func:`docs_quality_cutoff_calibration_df`,
    the two-phase distributed exact rank — same integers, no
    single-partition window."""
    quality = text_quality(d)
    n_keep = d.idiv(f"(n * {CALIB_KEEP_PCT})", "100")
    return f"""WITH q AS (
{quality}
),
r AS (
  SELECT doc_id, quality_score,
    row_number() OVER (ORDER BY quality_score DESC, doc_id) AS rn,
    count(*) OVER () AS n
  FROM q
)
SELECT cast(max(n) as bigint) AS n_docs,
  cast({CALIB_KEEP_PCT} as bigint) AS target_keep_pct,
  cast(max({n_keep}) as bigint) AS n_kept,
  min(CASE WHEN rn <= {n_keep} THEN quality_score END) AS cutoff_score,
  cast(max({n_keep}) as double) * 100 / max(n) AS realized_keep_pct
FROM r"""


def docs_quality_cutoff_calibration_df(spark):
    """Distributed twin of :func:`docs_quality_cutoff_calibration`: the
    wired Spark plan (the SQL form's global ``row_number() OVER (ORDER
    BY ...)`` is a single-partition sort — the exact WindowExec
    "Moving all data to a single partition" scale-killer, fine only as
    the DuckDB oracle). Exact rank selection over the two-phase prefix
    sum of :mod:`functions.ranged`:

    1. Range-partition the scored relation by the selection order
       (score DESC, doc_id) — a parallel range shuffle, no global sort.
    2. Global rank = the count prefix (``prior + 1``); the cutoff is
       the single row at rank n_keep (scores are non-increasing in
       rank, so the rank-n_keep score IS the minimum kept score),
       fetched via a broadcast equi-join against the one-row
       (n, n_keep) relation — no driver collect, no single-partition
       window over the corpus.

    Identical output to the SQL window form (exact rank, same
    deterministic total order, long arithmetic; the cutoff rank is
    least(n_keep, #non-NULL) because the oracle's conditional min
    skips NULL-score docs, and the degenerate no-fetchable-rank cases
    — NULL-only kept band, n_keep = 0, empty corpus — emit the SQL
    form's one NULL-cutoff row via a union branch), verified by
    mode-equality tests at driver SF and on planted NULL-heavy
    corpora."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.functions.ranged import (
        prefix_total, range_layout,
    )

    q = spark.sql(text_quality(SPARK)).select("doc_id", "quality_score")
    order = [F.col("quality_score").desc(), F.col("doc_id").asc()]
    # the layout feeds three consumers (per-partition counts, the
    # global total, the rank join); without materialization the
    # scoring chain + range shuffle re-ran per consumer (measured 3
    # parquet scans, 0 ReusedExchange under AQE) — the checkpoint is
    # (doc_id, score, pid), 2 longs + a double per row
    ranged = range_layout(q, *order).localCheckpoint(eager=False)
    # the oracle's cutoff is min(score) over the kept rows SKIPPING
    # NULLs (zero-token docs score NULL and sort last under DESC), so
    # the rank to fetch is r* = least(n_keep, #non-NULL) — picking the
    # rank-n_keep row verbatim would return NULL the moment NULL-score
    # docs cross into the kept band (review finding)
    # (n is a sum, NULL on an empty corpus like the oracle's max(n))
    glob = (ranged.agg(F.sum(F.lit(1)).alias("n"),
                       F.count("quality_score").alias("n_nonnull"))
            .withColumn("n_keep",
                        F.expr(f"cast((n * {CALIB_KEEP_PCT}) div 100"
                               f" as bigint)"))
            .withColumn("rstar", F.least(F.col("n_keep"),
                                         F.col("n_nonnull"))))
    ranked = (prefix_total(ranged, order, F.lit(1))
              .withColumn("rn", F.col("prior") + 1))
    out_cols = [
        F.col("n").cast("bigint").alias("n_docs"),
        F.lit(CALIB_KEEP_PCT).cast("bigint").alias("target_keep_pct"),
        F.col("n_keep").cast("bigint").alias("n_kept"),
        F.col("cutoff_score").cast("double").alias("cutoff_score"),
        # On an empty corpus n is NULL (sum over zero rows), never 0 —
        # plain division already yields NULL there; try_divide is a
        # defensive guard so no future refactor that coalesces n to 0
        # can turn the degenerate row into an ANSI DIVIDE_BY_ZERO
        # (empty-corpus behavior pinned by the mode-equality test)
        F.try_divide(F.col("n_keep").cast("double") * 100, F.col("n"))
        .alias("realized_keep_pct"),
    ]
    cut = (ranked.join(F.broadcast(glob), F.col("rn") == F.col("rstar"))
           .withColumn("cutoff_score", F.col("quality_score"))
           .select(*out_cols))
    # degenerate branch (the SQL form still emits its one row): no
    # fetchable cutoff rank — every kept slot is NULL-score, n_keep=0,
    # or the corpus is empty (rstar NULL) — cutoff is NULL
    degenerate = (glob.where(F.coalesce(F.col("rstar"), F.lit(0)) == 0)
                  .withColumn("cutoff_score",
                              F.lit(None).cast("double"))
                  .select(*out_cols))
    return cut.unionAll(degenerate)


BPE_ROUNDS = 8       # selection rounds (= driver round-trips, DF twin)
BPE_ROUND_K = 8      # max merges selected per round (disjoint symbols)
BPE_CAND_POOL = 24   # ranked candidate pool examined per round
# The training dict is VOCAB-bounded (distinct tokens), not corpus-
# bounded, so the per-round pair aggregate coalesces to this many
# tasks — 1 is right up to ~1M-symbol dictionaries (the practical BPE
# regime); bump for a larger-than-memory vocab, never for corpus size
# (the corpus-scale token count happens once, in ensure_bpe_dict_view)
BPE_DICT_PARTITIONS = 1
BPE_WORD_CAP = 256  # training dictionary = top words by corpus frequency


def _bpe_sel_fold(d: Dialect, cands: str) -> str:
    """Greedy disjoint-symbol batch selection (the standard batched-BPE
    round): fold the RANKED candidate array (``'L R cnt'`` strings,
    (count DESC, pair ASC) order) left-to-right, selecting a candidate
    iff neither of its symbols appears in an already-selected pair,
    stopping after {BPE_ROUND_K} selections. Disjointness is what makes
    applying the whole round simultaneously equal to applying its
    merges sequentially in rank order (no selected pair can create,
    destroy, or overlap an occurrence of another).

    The accumulator is a single string (DuckDB's list_reduce requires
    accumulator type == element type): each selection appends
    ``;L R cnt~[L][R]`` — the raw entry plus bracketed symbol markers
    for the disjointness probe (symbols are alnum, so brackets cannot
    collide). Returns the selected entries as array<string>, selection
    order."""
    L = d.elem(d.split("c", " "), "1")
    R = d.elem(d.split("c", " "), "2")
    n_sel = "(length(a) - length(replace(a, ';', '')))"
    conflict = (f"contains(a, '[' || {L} || ']') "
                f"OR contains(a, '[' || {R} || ']')")
    entry = f"a || ';' || c || '~[' || {L} || '][' || {R} || ']'"
    body = (f"CASE WHEN c = '' OR {n_sel} >= {BPE_ROUND_K} THEN a "
            f"WHEN {conflict} THEN a ELSE {entry} END")
    folded = d.fold(cands, "''", "a", "c", body)
    entries = d.filter_(d.split(folded, ";"), "e", "e <> ''")
    return d.transform(entries, "e", d.elem(d.split("e", "~"), "1"))


def _bpe_merge_set_exprs(d: Dialect, pairs: str) -> tuple[str, str]:
    """(kept-array, rebuilt-symbols) expression pair applying a
    DISJOINT-symbol merge SET simultaneously to a symbol array column
    ``syms``; ``pairs`` is an expression for ``array<string>`` of
    ``'L R'`` pair keys (a literal array, a column ref, or a lambda
    var). With pairwise-disjoint symbols, overlapping eligible
    positions can only come from the SAME self-pair (L = R) inside an
    equal-symbol run — two adjacent positions eligible for different
    pairs would force a shared symbol — so the single-pair greedy
    machinery generalizes unchanged.

    Greedy leftmost-non-overlapping semantics, positionally: position i
    merges iff ``syms[i] || ' ' || syms[i+1]`` is in the set and — only
    possible when syms[i] = syms[i+1], where eligible positions are
    consecutive inside an equal-symbol run — the run offset is even
    (exactly the positions a left-to-right scan consumes). Every array
    index is wrapped in CASE (ANSI mode: out-of-range element_at
    throws in Spark).
    """
    n = d.arr_len("syms")
    si, si1 = d.elem("syms", "i"), d.elem("syms", "i + 1")
    # trailing run length of syms[i] strictly before position i
    runlen = d.fold(d.seq("1", "i - 1"), "cast(0 as bigint)", "ac", "j",
                    f"CASE WHEN {d.elem('syms', 'j')} = {si} "
                    f"THEN ac + 1 ELSE cast(0 as bigint) END")
    parity = (f"(CASE WHEN i = 1 THEN cast(0 as bigint) "
              f"ELSE {runlen} END) % 2 = 0")
    elig = d.arr_contains(pairs, f"{si} || ' ' || {si1}")
    kept_body = (f"CASE WHEN {elig} THEN ({si} <> {si1} OR {parity}) "
                 f"ELSE false END")
    kept_arr = d.transform(d.seq("1", f"{n} - 1"), "i", kept_body)
    empty_bool = ("cast(array() as array<boolean>)" if d.name == "spark"
                  else "cast([] as boolean[])")
    kept = f"CASE WHEN {n} < 2 THEN {empty_bool} ELSE {kept_arr} END"
    # survivors: positions not consumed by a merge at i-1; a kept
    # position emits the concatenated pair
    consumed = (f"CASE WHEN i > 1 THEN {d.elem('kept', 'i - 1')} "
                f"ELSE false END")
    keep_pos = d.filter_(d.seq("1", n), "i", f"NOT ({consumed})")
    merged_here = (f"CASE WHEN i < {n} THEN {d.elem('kept', 'i')} "
                   f"ELSE false END")
    emit = (f"CASE WHEN {merged_here} "
            f"THEN {si} || {si1} "
            f"ELSE {si} END")
    rebuilt = d.transform(keep_pos, "i", emit)
    return kept, rebuilt


def _bind(d: Dialect, expr: str, var: str, body: str) -> str:
    """Let-binding via a single-element transform (the shingle_hvs
    trick): evaluate ``expr`` once, expose it to ``body`` as ``var``."""
    if d.name == "spark":
        return f"transform(array({expr}), {var} -> {body})[0]"
    return f"list_transform([{expr}], {var} -> {body})[1]"


def _bpe_apply_expr(d: Dialect, syms_expr: str,
                    round_sets: list[str]) -> str:
    """Symbol-array expression replaying the trained merge ROUNDS in
    order (BPE apply must replay training order; within a round the
    disjoint-symbol set applies simultaneously — equal to sequential
    rank order, see :func:`_bpe_sel_fold`) on ``syms_expr``, with each
    round's input, pair set, and kept-array let-bound so they evaluate
    once. One chained bind per ROUND, not per merge — up to
    {BPE_ROUNDS}x{BPE_ROUND_K} merges cost {BPE_ROUNDS} expression
    layers."""
    cur = syms_expr
    for pairs in round_sets:
        kept, rebuilt = _bpe_merge_set_exprs(d, "mp")
        inner = _bind(d, kept, "kept", rebuilt)
        inner = _bind(d, pairs, "mp", inner)
        cur = _bind(d, cur, "syms", inner)
    return cur


def _bpe_count_parts(d: Dialect, round_sets: list[str]) -> tuple[str, str]:
    """(n_token_chars, n_bpe_tokens) expressions over a token-array
    column ``toks`` for per-round pair-set column refs for the apply
    query. Tokens map to bigint counts
    BEFORE the fold: the
    DuckDB fold trick ([init] || list) needs accumulator type ==
    element type."""
    apply_ = _bpe_apply_expr(d, d.chars("tok"), round_sets)
    bpe_counts = d.transform("toks", "tok",
                             f"cast({d.arr_len(apply_)} as bigint)")
    n_bpe = d.fold(bpe_counts, "cast(0 as bigint)", "a", "x", "a + x")
    char_counts = d.transform("toks", "tok2", "cast(length(tok2) as bigint)")
    n_chars = d.fold(char_counts, "cast(0 as bigint)", "a2", "x2", "a2 + x2")
    return n_chars, n_bpe


def _bpe_dict_cte(d: Dialect, base: str | None) -> str:
    """w0: the word-frequency training dictionary (top BPE_WORD_CAP by
    freq, deterministic (freq DESC, token) tiebreak), one symbol per
    char. With ``base`` (Spark side) the corpus-scale count is read
    from the session-materialized view instead of recomputed."""
    ca = d.cte_as()
    if base is not None:
        return f"w0 {ca} (SELECT token, freq, syms FROM {base})"
    return f"""tok {ca} (SELECT {d.explode(d.tokens('text'))} AS token FROM documents),
wf {ca} (SELECT token, cast(count(*) as bigint) AS freq FROM tok GROUP BY token),
wd {ca} (SELECT token, freq FROM wf ORDER BY freq DESC, token LIMIT {BPE_WORD_CAP}),
w0 {ca} (SELECT token, freq, {d.chars('token')} AS syms FROM wd)"""


def text_bpe_merge_train(d: Dialect, base: str | None = None) -> str:
    """BATCHED BPE tokenizer TRAINING (Sennrich et al. 2016; batched
    rounds as in production trainers), {BPE_ROUNDS} rounds unrolled:
    count weighted adjacent symbol pairs over the word dictionary,
    greedily select up to {BPE_ROUND_K} DISJOINT-symbol pairs from the
    top-{BPE_CAND_POOL} candidates ((count DESC, pair ASC) order —
    deterministic cross-engine; see :func:`_bpe_sel_fold`), merge the
    whole set simultaneously in every word, repeat. Output: the
    learned merge table (global rank = (round, in-round selection
    order), pair, merged symbol, weighted count at round start) — the
    artifact a BPE tokenizer ships, up to {BPE_ROUND_K} merges from
    each of {BPE_ROUNDS} passes.

    Classic BPE trains on the word-frequency dictionary, not the raw
    corpus; here the dictionary is capped at the top {BPE_WORD_CAP}
    words (one corpus-scale count + TakeOrdered), so every round runs
    on a dictionary-sized relation. Rounds with no selectable pair
    (dictionary fully merged) are no-ops and emit no rows.

    Scale posture (100 TB): the ONLY corpus-scale work is the initial
    token count (map-side combine, alphabet-bounded reduce); rounds
    touch {BPE_WORD_CAP} rows, and batching means a real ~30k-merge
    vocab needs ~30k/{BPE_ROUND_K} rounds, not 30k (raise
    BPE_ROUND_K/BPE_CAND_POOL together to go wider). The Spark entry
    is the iterative twin ``text_bpe_merge_train_df`` (one
    driver round-trip per ROUND, not per merge; this unrolled form
    re-evaluates the dictionary chain per CTE reference under Catalyst
    inlining); the self-contained SQL is the DuckDB oracle.
    """
    cte_body, tail = _bpe_train_parts(d, base)
    return "WITH " + cte_body + "\n" + tail


def _sel_pairs_expr(d: Dialect) -> str:
    """array<string> of 'L R' pair keys from the selected-entry array
    column ``sel`` ('L R cnt' strings)."""
    pl = d.elem(d.split("e", " "), "1")
    pr_ = d.elem(d.split("e", " "), "2")
    return d.transform("sel", "e", f"{pl} || ' ' || {pr_}")


def _bpe_train_parts(d: Dialect, base: str | None) -> tuple[str, str]:
    """(CTE body, merge-table tail SELECT) of the unrolled batched
    trainer — composed verbatim by text_bpe_merge_train and, with
    extra apply CTEs appended to the body, by text_bpe_tokenize_count
    (no string surgery on rendered SQL). Round r CTEs: pr{{r}} pair
    counts -> top{{r}} ranked pool -> sel{{r}} one-row selected-set
    array -> selx{{r}} exploded merge rows -> w{{r}} rebuilt words."""
    parts = [_bpe_dict_cte(d, base)]
    n = d.arr_len("syms")
    pair_i = f"{d.elem('syms', 'i')} || ' ' || {d.elem('syms', 'i + 1')}"
    pairs_arr = d.transform(d.seq("1", f"{n} - 1"), "i", pair_i)
    cand_str = d.ordered_concat(
        f"pr || ' ' || {d.str_cast('cnt')}", "rk", ",")
    sel_expr = _bpe_sel_fold(d, d.split(f"coalesce({cand_str}, '')", ","))
    if d.name == "spark":
        ords = (f"CASE WHEN {d.arr_len('sel')} < 1 "
                f"THEN cast(array() as array<int>) "
                f"ELSE sequence(1, {d.arr_len('sel')}) END")
    else:
        ords = f"range(1, {d.arr_len('sel')} + 1)"
    ef = d.split("entry", " ")
    kept, rebuilt = _bpe_merge_set_exprs(d, "mp")
    ca = d.cte_as()
    for r in range(1, BPE_ROUNDS + 1):
        prev = f"w{r - 1}"
        parts.append(f"""pr{r} {ca} (
  SELECT pr, cast(sum(freq) as bigint) AS cnt
  FROM (SELECT freq, {d.explode(pairs_arr)} AS pr FROM {prev}
        WHERE {n} >= 2) x{r}
  GROUP BY pr
),
top{r} {ca} (
  SELECT pr, cnt FROM (
    SELECT pr, cnt, row_number() OVER (ORDER BY cnt DESC, pr) AS rk
    FROM pr{r}) rt{r}
  WHERE rk <= {BPE_CAND_POOL}
),
sel{r} {ca} (
  SELECT {sel_expr} AS sel
  FROM (SELECT pr, cnt, row_number() OVER (ORDER BY cnt DESC, pr) AS rk
        FROM top{r}) st{r}
),
selx{r} {ca} (
  SELECT ord,
    {d.elem(ef, '1')} AS left_sym,
    {d.elem(ef, '2')} AS right_sym,
    cast({d.elem(ef, '3')} as bigint) AS pair_count
  FROM (SELECT {d.elem('sel', 'ord')} AS entry, ord
        FROM (SELECT sel, {d.explode(ords)} AS ord FROM sel{r}) z{r}) y{r}
),
k{r} {ca} (
  SELECT token, freq, syms, mp, {kept} AS kept
  FROM (SELECT token, freq, syms, {_sel_pairs_expr(d)} AS mp
        FROM {prev} CROSS JOIN sel{r}) mk{r}
),
w{r} {ca} (SELECT token, freq, {rebuilt} AS syms FROM k{r})""")
    union = "\nUNION ALL\n".join(
        f"SELECT cast({r} as int) AS rnd, ord, left_sym, right_sym, "
        f"pair_count FROM selx{r}"
        for r in range(1, BPE_ROUNDS + 1))
    tail = f"""SELECT
  cast(row_number() OVER (ORDER BY rnd, ord) as int) AS merge_rank,
  left_sym, right_sym, left_sym || right_sym AS merged_sym, pair_count
FROM (
{union}
) allm"""
    return ",\n".join(parts), tail


def text_bpe_tokenize_count(d: Dialect) -> str:
    """BPE tokenizer APPLY — the measurement that prices a corpus in
    tokens: per document, whitespace-token count, char count, and the
    BPE-symbol count after replaying the learned merge table (plus the
    chars-per-BPE-token compression ratio). Train → apply is the full
    tokenizer lifecycle; the merge table comes from
    :func:`text_bpe_merge_train`.

    This self-contained form (the DuckDB oracle) trains in-query and
    CROSS JOINs the {BPE_ROUNDS} 1-row selected-set relations into the
    apply expression; the Spark form is
    :func:`text_bpe_tokenize_count_df`, which applies the trained model
    as a broadcast variable.

    Scale posture (100 TB): apply is embarrassingly parallel (pure
    projection); training cost is the dictionary count (see
    text_bpe_merge_train). Per-token apply work is O(len²) lambda
    arithmetic on short alnum tokens — constant-bounded.
    """
    round_sets = [f"mp{r}" for r in range(1, BPE_ROUNDS + 1)]
    # reuse the training chain, then re-alias each round's 1-row
    # selected-set relation for the cross join into the apply
    # projection
    train_body, _ = _bpe_train_parts(d, None)
    pair_aliases = ",\n".join(
        f"pp{r} AS (SELECT {_sel_pairs_expr(d)} AS mp{r} FROM sel{r})"
        for r in range(1, BPE_ROUNDS + 1))
    cross = " CROSS JOIN ".join(
        f"pp{r}" for r in range(1, BPE_ROUNDS + 1))
    pair_cols = ", ".join(f"mp{r}" for r in range(1, BPE_ROUNDS + 1))
    head = (f"WITH {train_body},\n{pair_aliases},\n"
            f"docs AS (SELECT doc_id, {d.tokens('text')} AS toks, "
            f"{pair_cols} FROM documents CROSS JOIN {cross})")
    n_chars, n_bpe = _bpe_count_parts(d, round_sets)
    return f"""{head},
counted AS (
  SELECT doc_id,
    cast({d.arr_len('toks')} as bigint) AS n_tokens,
    {n_chars} AS n_token_chars,
    {n_bpe} AS n_bpe_tokens
  FROM docs
)
SELECT doc_id, n_tokens, n_token_chars, n_bpe_tokens,
  CASE WHEN n_bpe_tokens = 0 THEN cast(NULL as double)
       ELSE cast(n_token_chars as double) / n_bpe_tokens
  END AS chars_per_bpe_token
FROM counted"""


def text_bpe_fertility_by_lang(d: Dialect) -> str:
    """Per-language tokenizer FERTILITY report — the acceptance gate a
    multilingual tokenizer ships with: fertility (BPE tokens per
    whitespace word) and chars-per-BPE-token per language, from the
    corpus-wide apply. A language whose fertility is far above the
    corpus mean is under-served by the learned merges (its text costs
    disproportionate sequence length), the standard signal for
    rebalancing the training dictionary.

    Rollup of :func:`text_bpe_tokenize_count` joined to the lang
    column; sums are exact bigints, each ratio one division —
    cross-engine exact. Scale posture: the join key is doc_id on two
    co-partitionable corpus relations, the output is lang-cardinality
    rows via one map-side-combining aggregate.
    """
    tc = text_bpe_tokenize_count(d)
    return f"""WITH tc AS (
{tc}
)
SELECT dd.lang,
  cast(count(*) as bigint) AS n_docs,
  cast(sum(tc.n_tokens) as bigint) AS n_words,
  cast(sum(tc.n_bpe_tokens) as bigint) AS n_bpe_tokens,
  CASE WHEN sum(tc.n_tokens) = 0 THEN cast(NULL as double)
       ELSE cast(sum(tc.n_bpe_tokens) as double) / sum(tc.n_tokens)
  END AS fertility,
  CASE WHEN sum(tc.n_bpe_tokens) = 0 THEN cast(NULL as double)
       ELSE cast(sum(tc.n_token_chars) as double) / sum(tc.n_bpe_tokens)
  END AS chars_per_bpe_token
FROM tc JOIN documents dd ON dd.doc_id = tc.doc_id
GROUP BY dd.lang"""


def text_bpe_fertility_by_lang_df(spark, priced_view: str):
    """Spark twin: rollup of the distinct-word apply path (same exact
    bigint sums and single divisions as the SQL form), reading the
    per-doc pricing from the session-materialized relation
    ``priced_view`` (:func:`ensure_bpe_priced_view`)."""
    from pyspark.sql import functions as F

    tc = spark.table(priced_view)
    docs = spark.sql("SELECT doc_id, lang FROM documents")
    return (tc.join(docs, "doc_id")
            .groupBy("lang")
            .agg(F.expr("cast(count(*) as bigint)").alias("n_docs"),
                 F.expr("cast(sum(n_tokens) as bigint)").alias("n_words"),
                 F.expr("cast(sum(n_bpe_tokens) as bigint)")
                 .alias("n_bpe_tokens"),
                 F.expr("CASE WHEN sum(n_tokens) = 0 "
                        "THEN cast(NULL as double) "
                        "ELSE cast(sum(n_bpe_tokens) as double) "
                        "/ sum(n_tokens) END").alias("fertility"),
                 F.expr("CASE WHEN sum(n_bpe_tokens) = 0 "
                        "THEN cast(NULL as double) "
                        "ELSE cast(sum(n_token_chars) as double) "
                        "/ sum(n_bpe_tokens) END")
                 .alias("chars_per_bpe_token")))


BPE_DICT_VIEW = "__bpe_word_dict"


@session_plane("bpe_dict")
def ensure_bpe_dict_view(spark, key: object = None) -> str:
    """Materialize the top-{BPE_WORD_CAP} word-frequency dictionary
    (token, freq, syms) once per (session, dataset) — the single
    corpus-scale pass of BPE training; every merge round reads this
    {BPE_WORD_CAP}-row plane."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    materialize_plane_df(
        spark.sql("WITH " + _bpe_dict_cte(SPARK, None) +
                  "\nSELECT token, freq, syms FROM w0"), BPE_DICT_VIEW)
    return BPE_DICT_VIEW


def _bpe_train_rounds(spark, base: str) -> list[list[tuple[str, str, int]]]:
    """ONE-JOB kernel form of the batched BPE training loop (r12,
    guide §5 "the driver should do almost no data work" / §4.5): the
    job-loop form (:func:`_bpe_train_rounds_jobs`, kept as the pinned
    reference) already funnels every round's pair aggregate through a
    single task on the capped dictionary — but it still paid one job
    launch + one driver collect + one lazy checkpoint PER ROUND
    (~0.15-0.3 s/job locally, measured 1.4-1.7 s for 8 rounds of
    ~150 ms compute). This form runs the ENTIRE selection loop inside
    one single-partition ``mapInPandas`` over the same dictionary
    plane (``base``): per-round pair counting (exact int64 sums of
    ``freq`` per adjacent-pair occurrence), the (cnt DESC, pr ASC) top-pool
    ranking (Python code-point string order == Spark's UTF8 byte
    order — UTF-8 preserves code-point order), the greedy
    disjoint-symbol selection, and the per-round simultaneous apply
    (the leftmost-non-overlapping scan — equal to the kept/parity
    expressions for disjoint sets, the documented equivalence
    ``bpe_apply_python`` pins). The dictionary never leaves the
    executor; the driver receives only the merge rows (≤
    (BPE_ROUND_K+1)·BPE_ROUNDS rows — the frozen-model tier).
    Identical output pinned by test_bpe_kernel_trainer_matches_jobs
    and the standing oracle tests of every consumer."""
    rounds_done: list[list[tuple[str, str, int]]] = []
    total, pool, round_k = BPE_ROUNDS, BPE_CAND_POOL, BPE_ROUND_K

    def trainer(batches):
        import pandas as pd

        toks: list[list[str]] = []
        freqs: list[int] = []
        for pdf in batches:
            for syms, fr in zip(pdf["syms"], pdf["freq"]):
                toks.append(list(syms))
                freqs.append(int(fr))
        out_rnd, out_rank = [], []
        out_left, out_right, out_cnt = [], [], []
        for rnd in range(1, total + 1):
            counts: dict[tuple[str, str], int] = {}
            for syms, fr in zip(toks, freqs):
                for i in range(len(syms) - 1):
                    k = (syms[i], syms[i + 1])
                    counts[k] = counts.get(k, 0) + fr
            top = sorted(counts.items(),
                         key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
                         )[:pool]
            sel: list[tuple[str, str, int]] = []
            used: set[str] = set()
            for (left, right), cnt in top:
                if left in used or right in used:
                    continue
                sel.append((left, right, cnt))
                used.update((left, right))
                if len(sel) == round_k:
                    break
            # marker row (rank 0) so the driver reconstructs the round
            # STRUCTURE exactly — including a trailing empty round
            out_rnd.append(rnd); out_rank.append(0)
            out_left.append(""); out_right.append(""); out_cnt.append(0)
            for rank, (left, right, cnt) in enumerate(sel, start=1):
                out_rnd.append(rnd); out_rank.append(rank)
                out_left.append(left); out_right.append(right)
                out_cnt.append(cnt)
            if not sel:
                break
            pset = {(left, right) for left, right, _ in sel}
            new_toks = []
            for syms in toks:
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms)
                            and (syms[i], syms[i + 1]) in pset):
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new_toks.append(out)
            toks = new_toks
        yield pd.DataFrame({"rnd": pd.Series(out_rnd, dtype="int32"),
                            "rank": pd.Series(out_rank, dtype="int32"),
                            "left": out_left, "right": out_right,
                            "cnt": pd.Series(out_cnt, dtype="int64")})

    # coalesce(1) is CORRECTNESS here, not tuning (r12 advice): the
    # in-kernel selection loop needs the whole dictionary in one task —
    # per-partition partial trainers would emit duplicate (rnd, rank)
    # rows whose driver merge silently interleaves wrong counts. The
    # BPE_DICT_PARTITIONS knob tunes the job-loop form only; the
    # duplicate guard below makes a violated assumption fail loudly.
    rows = (spark.table(base).select("freq", "syms")
            .coalesce(1)
            .mapInPandas(trainer, schema="rnd int, rank int, "
                                         "left string, right string, "
                                         "cnt long")
            .collect())
    by_rnd: dict[int, list] = {}
    seen: set[tuple[int, int]] = set()
    for r in rows:
        if (r.rnd, r.rank) in seen:
            raise ValueError(
                f"duplicate BPE trainer row (rnd={r.rnd}, rank={r.rank})"
                " — the dictionary was split across partitions and the"
                " kernel trained partial models")
        seen.add((r.rnd, r.rank))
        by_rnd.setdefault(r.rnd, [])
        if r.rank > 0:
            by_rnd[r.rnd].append((r.rank, r.left, r.right, int(r.cnt)))
    if not by_rnd:
        # empty-partition edge: an empty dictionary trains one empty
        # round, exactly like the jobs form
        return [[]]
    for rnd in sorted(by_rnd):
        rounds_done.append([(left, right, cnt) for _, left, right, cnt
                            in sorted(by_rnd[rnd])])
    return rounds_done


def _bpe_train_rounds_jobs(spark,
                           base: str) -> list[list[tuple[str, str, int]]]:
    """Spark-native BATCHED BPE training loop: one dictionary-sized
    top-{BPE_CAND_POOL} pair job per ROUND (a single bounded collect —
    the batching that makes a 30k-merge vocab ~30k/{BPE_ROUND_K}
    driver round-trips instead of 30k), the greedy disjoint-symbol
    selection replayed in Python with the exact rule of
    :func:`_bpe_sel_fold`, and the whole selected set applied as ONE
    codegen projection. Returns per-round [(left, right, count), ...]
    lists (possibly empty — no-op rounds mirror the unrolled SQL).

    Per-round overhead (r6 profiling — the r3→r5 "drift" was fresh-JVM
    job-launch cost, ~150-300 ms/job on a 31-row dict, not session
    state): the pair aggregate reads the vocab-bounded dict through
    ``coalesce(BPE_DICT_PARTITIONS)`` so it is one task with no
    exchange, and the round checkpoint is LAZY
    (``localCheckpoint(eager=False)`` materializes inside the next
    round's collect job instead of launching its own) — together 8
    fewer jobs and a single-stage aggregate per round: 2.13 s → 1.03 s
    warm at sf0.1. The checkpoint itself must stay: an unbroken
    8-round chain of nested array-transform projections makes the
    analyzed plan explode (the no-checkpoint variant never finished)."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK as d

    words = spark.table(base)
    n = d.arr_len("syms")
    pair_i = f"{d.elem('syms', 'i')} || ' ' || {d.elem('syms', 'i + 1')}"
    pairs_arr = d.transform(d.seq("1", f"{n} - 1"), "i", pair_i)
    rounds: list[list[tuple[str, str, int]]] = []
    for _ in range(BPE_ROUNDS):
        top = (words.coalesce(BPE_DICT_PARTITIONS)
               .where(F.expr(f"{n} >= 2"))
               .select("freq", F.explode(F.expr(pairs_arr)).alias("pr"))
               .groupBy("pr").agg(F.sum("freq").alias("cnt"))
               .orderBy(F.desc("cnt"), "pr")
               .limit(BPE_CAND_POOL).collect())
        sel: list[tuple[str, str, int]] = []
        used: set[str] = set()
        for row in top:
            left, right = row.pr.split(" ")
            if left in used or right in used:
                continue
            sel.append((left, right, int(row.cnt)))
            used.update((left, right))
            if len(sel) == BPE_ROUND_K:
                break
        rounds.append(sel)
        if not sel:
            # an empty selection means no 2+-symbol word remains — an
            # irreversible state, so later rounds could only select
            # nothing too; break instead of paying a dead dictionary
            # aggregate + collect (~150-300 ms/job) per leftover round
            break
        pairs_lit = d.arr_lit([f"'{left} {right}'" for left, right, _ in sel])
        kept, rebuilt = _bpe_merge_set_exprs(d, "mp")
        words = (words.withColumn("mp", F.expr(pairs_lit))
                 .withColumn("kept", F.expr(kept))
                 .select("token", "freq", F.expr(rebuilt).alias("syms"))
                 .localCheckpoint(eager=False))
    return rounds


def text_bpe_merge_train_df(spark, base: str):
    """Spark-native batched BPE training: the unrolled SQL re-evaluates
    the dictionary chain once per CTE reference under Catalyst
    inlining (~2x per round), so the cluster form iterates
    (:func:`_bpe_train_rounds`). The self-contained SQL stays as the
    DuckDB oracle; pytest pins the two forms equal."""
    rows, rank = [], 0
    for rnd in _bpe_train_rounds(spark, base=base):
        for left, right, cnt in rnd:
            rank += 1
            rows.append((rank, left, right, left + right, cnt))
    return spark.createDataFrame(
        rows, schema="merge_rank int, left_sym string, right_sym string, "
                     "merged_sym string, pair_count bigint")


# the trained merge TABLE is a session plane whose value is the merge
# list, not a view: apply is a separate operator from training (train
# once, apply many times), so repeated apply calls must not re-run the
# trainer
@session_plane("bpe_merges", deps=("bpe_dict",))
def ensure_bpe_merges(
        spark, key: object = None) -> list[list[tuple[str, str]]]:
    """Train once per (session, dataset), return the ROUND-structured
    merge table [[(left, right), ...], ...] (rounds in order; pairs in
    in-round rank order; within a round symbols are pairwise disjoint,
    so per-round simultaneous apply == flat sequential apply). Trains
    on the bpe_dict plane of the same ``key``, its declared dep, which
    a cold call builds (as its own timing row) before this one."""
    base = ensure_bpe_dict_view(spark, key=key)
    return [[(left, right) for left, right, _ in rnd]
            for rnd in _bpe_train_rounds(spark, base=base)]


BPE_PRICED_VIEW = "__bpe_priced_docs"


@session_plane("bpe_priced_docs", deps=("bpe_merges",))
def ensure_bpe_priced_view(spark, key: object = None) -> str:
    """Materialize the per-doc BPE pricing relation
    (text_bpe_tokenize_count_df's output) once per (session, dataset)
    — the fertility rollup consumes it the way a pipeline prices the
    corpus once and reports many times; the tokenize_count query
    itself still computes the apply (it IS the pricing operation).
    Prices with the merge model trained for the same ``key``."""
    materialize_plane_df(
        text_bpe_tokenize_count_df(
            spark, merges=ensure_bpe_merges(spark, key=key)),
        BPE_PRICED_VIEW)
    return BPE_PRICED_VIEW


def bpe_apply_python(tok: str, flat_merges: list[tuple[str, str]]) -> int:
    """Pure-Python greedy BPE apply — returns the POST-MERGE SYMBOL
    count for one token (the BPE token count, ``len(syms)`` — NOT the
    number of merges applied):
    replays the flat merge list sequentially with the same
    leftmost-non-overlapping scan the SQL expressions implement — the
    broadcast-model kernel AND the test oracle for the expression
    path (per-round simultaneous apply of disjoint sets equals this
    flat sequential replay)."""
    syms = list(tok)
    for left, right in flat_merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def text_bpe_tokenize_count_df(spark, merges: list[list[tuple[str, str]]]):
    """Spark-native BPE apply: price the corpus by applying the
    round-structured merge table ``merges`` (the bpe_merges plane,
    :func:`ensure_bpe_merges`) to each DISTINCT word once — applying
    per token OCCURRENCE costs ~vocab-expansion× more for identical
    results (measured 7.7x end-to-end at sf0.1 with the 62-merge
    model in its SQL-expression form, 1.23s dim-path vs 9.53s
    per-occurrence, full evaluation
    forced via sum(n_bpe_tokens) — same figure quoted in SCALE.md
    §Tokenizer; Zipf makes it worse at scale).
    The vocab-sized (token, n_syms) dim then broadcast-joins back to
    the exploded token stream and one map-side-combining groupBy
    rebuilds the per-doc counts. Docs with zero tokens are preserved
    by the left join (NULL ratio, zero counts — same as the oracle).
    The train-in-query SQL form is the DuckDB oracle.

    Frozen-model mechanics: the model ships as a SparkContext
    BROADCAST variable consumed by an Arrow-batched pandas UDF over
    the distinct-word dim (``bpe_apply_python`` kernel, pinned equal
    to the oracle's expression path by pytest) — inlined as plan
    literals, even the small trained model cost more in per-run
    expression analysis than the UDF's vocab-sized worker round-trip
    (measured 1.37 s vs 0.78 s per run at sf0.1), and a real
    ~30k-merge vocab would bloat the plan string. Unlike the membership-set
    models (eval shingles, Bloom words), which grow with the corpus and
    stay joins, the BPE model is VOCAB-bounded by construction — a merge
    table is at most the target vocabulary (~30k-100k pairs, ~1 MB),
    never corpus-scale — so the one driver hop here is constant-size
    and a join tier is structurally impossible anyway (greedy merge
    application is an ordered iterative rewrite, not a per-key
    lookup)."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK as d

    from aws_trusted_advisor_explorer_spark.functions.vectorized import (
        make_broadcast_model_udf,
    )

    docs = spark.sql(
        f"SELECT doc_id, {d.tokens('text')} AS toks FROM documents")
    # the exploded token stream feeds BOTH the distinct-word dim and
    # the per-doc rollup join; without the checkpoint the tokenize
    # fold + explode ran twice (r12, guide §2.4 — measured 2 scans,
    # ~0.25 s each at sf0.1; the checkpoint is (doc_id, tok) skinny
    # rows)
    toks = (docs.select("doc_id", F.explode("toks").alias("tok"))
            .localCheckpoint(eager=False))
    flat = [p for rnd in merges for p in rnd]
    bc = spark.sparkContext.broadcast(flat)
    dim = (toks.select("tok").distinct()
           .withColumn("w_syms",
                       make_broadcast_model_udf(bc, bpe_apply_python)("tok")))
    dim = dim.withColumn("w_chars", F.expr("cast(length(tok) as bigint)"))
    per_doc = (toks.join(F.broadcast(dim), "tok")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_tokens"),
                    F.sum("w_chars").alias("n_token_chars"),
                    F.sum("w_syms").alias("n_bpe_tokens")))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .selectExpr(
                "doc_id",
                "coalesce(n_tokens, 0L) AS n_tokens",
                "coalesce(n_token_chars, 0L) AS n_token_chars",
                "coalesce(n_bpe_tokens, 0L) AS n_bpe_tokens",
                "CASE WHEN coalesce(n_bpe_tokens, 0L) = 0 "
                "THEN cast(NULL as double) "
                "ELSE cast(n_token_chars as double) / n_bpe_tokens "
                "END AS chars_per_bpe_token"))


# Unicode-hygiene targets (C4/CCNet-style sanitation): the replacement
# character (the mojibake tell), zero-width/BOM code points, and C0
# controls (tab/newline/CR kept — they are legitimate whitespace).
REPL_CH = "\ufffd"
ZW_CHARS = ("\u200b", "\u200c", "\u200d", "\ufeff")
CTRL_PATTERN = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
MOJIBAKE_PCT = 2  # >= this % replacement chars -> mojibake verdict


def _count_char(raw: str, ch: str) -> str:
    """Occurrences of a single character via length difference —
    replace() with a literal needs no regex dialect handling."""
    return f"(length({raw}) - length(replace({raw}, '{ch}', '')))"


def sanitize_parts(d: Dialect) -> tuple[str, str, str, str, str]:
    """Shared expression fragments for the unicode-hygiene pass:
    (planted ``raw`` derivation over (doc_id, text), replacement-char
    count, zero-width count, control count, cleaned text) — all over a
    ``raw`` column. Consumed by :func:`text_unicode_sanitize` and the
    planted-damage audit that re-derives ``raw``."""
    # raw regex — Dialect.re_replace owns the Spark literal doubling
    cpat = CTRL_PATTERN
    raw = (f"CASE WHEN doc_id % 5 = 0 THEN '{REPL_CH}{REPL_CH}' || text || "
           f"'{REPL_CH}'\n"
           f"         WHEN doc_id % 5 = 1 THEN '{ZW_CHARS[0]}' || text || "
           f"'{ZW_CHARS[3]}'\n"
           f"         WHEN doc_id % 5 = 2 THEN chr(1) || text || chr(7)\n"
           f"         ELSE text END")
    n_repl = _count_char("raw", REPL_CH)
    n_zw = " + ".join(_count_char("raw", ch) for ch in ZW_CHARS)
    n_ctrl = f"length(raw) - length({d.re_replace('raw', cpat, '')})"
    strip_lits = "raw"
    for ch in (REPL_CH,) + ZW_CHARS:
        strip_lits = f"replace({strip_lits}, '{ch}', '')"
    cleaned = "trim(" + d.re_replace(
        d.re_replace(strip_lits, cpat, ""), " +", " ") + ")"
    return raw, n_repl, n_zw, n_ctrl, cleaned


def text_unicode_sanitize(d: Dialect) -> str:
    """Unicode sanitation (the C4/CCNet hygiene pass): count and strip
    replacement characters (U+FFFD — the mojibake tell), zero-width/
    BOM code points, and C0 control characters, then collapse the
    whitespace runs stripping leaves behind; flag docs whose
    replacement-char share >= {MOJIBAKE_PCT}% as mojibake (re-decode
    or drop upstream). Input is derived deterministically from
    ``documents`` with planted damage per doc_id class (same
    planted-input pattern as pii_scrub_text) so both engines sanitize
    identical non-trivial strings and every branch is exercised at
    driver scale.

    Scale posture: pure projection — counts are length deltas of
    literal replace() and one regexp_replace, all whole-stage codegen,
    zero shuffle; chained after a quality gate it fuses into the same
    scan pass."""
    raw, n_repl, n_zw, n_ctrl, cleaned = sanitize_parts(d)
    return f"""WITH t AS (
  SELECT doc_id, {raw} AS raw FROM documents
),
m AS (
  SELECT doc_id, length(raw) AS n_chars_raw,
    cast({n_repl} as bigint) AS n_replacement,
    cast({n_zw} as bigint) AS n_zero_width,
    cast({n_ctrl} as bigint) AS n_control,
    {cleaned} AS clean_text
  FROM t
)
SELECT doc_id, cast(n_chars_raw as bigint) AS n_chars_raw,
  n_replacement, n_zero_width, n_control,
  cast(CASE WHEN n_replacement * 100 >= n_chars_raw * {MOJIBAKE_PCT}
            AND n_replacement > 0 THEN 1 ELSE 0 END as bigint) AS is_mojibake,
  clean_text
FROM m"""


# --- retrieval plane (boolean search + BM25 ranking) -----------------------
# Fixed conjunctive query over the synthetic vocabulary; terms chosen to
# have mid-range document frequency so both match and no-match docs
# exist at every scale factor.
QUERY_TERMS = ("hash", "join", "table")
BM25_TOP_K = 10


def docs_boolean_search(d: Dialect, base: str | None = None) -> str:
    """Conjunctive boolean retrieval (the inverted-index AND query,
    relationally): documents containing ALL query terms, with the
    total query-term frequency as a crude rank signal.

    Scale posture (100 TB): the term filter is applied BEFORE any
    aggregation — the exploded token stream is cut to query-term rows
    immediately (predicate on the generator output, fused by codegen),
    so the exchange carries only (doc_id, term) rows for the handful
    of query terms, a tiny fraction of the corpus. With ``base`` (the
    session token plane, Spark side) the tokenize+explode prefix is a
    cache read instead of a corpus scan. With a prebuilt
    posting-list table bucketed by term this becomes a k-way
    merge-intersection with zero scan."""
    n_terms = len(QUERY_TERMS)
    if base is not None:
        e_cte = f"e AS (SELECT doc_id, tok AS term FROM {base})"
    else:
        e_cte = f"""e AS (
  SELECT doc_id, {d.explode('toks')} AS term
  FROM (SELECT doc_id, {d.tokens('text')} AS toks FROM documents) t
)"""
    return f"""WITH {e_cte},
q AS (
  SELECT doc_id, term, cast(count(*) as bigint) AS tf
  FROM e WHERE term IN {_in_list(QUERY_TERMS)}
  GROUP BY doc_id, term
)
SELECT doc_id, cast(count(*) as bigint) AS n_terms_matched,
  cast(sum(tf) as bigint) AS total_tf
FROM q GROUP BY doc_id HAVING count(*) = {n_terms}"""


def _bm25_headroom_guard(d: Dialect) -> str:
    """The BM25 docstring's int64 bound as enforced code (VERDICT r9
    task 6), evaluated once on the one-row corpus stats relation
    ``c0(n_docs, sum_dl, mx_dl)``: the largest intermediate is
    numer = idf_milli·tf·44·sum_dl with idf_milli ≤ (1000(2N-1)) div 3
    (df ≥ 1) and tf ≤ mx_dl, so the check is mx_dl ≤ MAX div
    (44·sum_dl) div idf_max — divide-first, conservative (integer
    division only shrinks the cap). greatest(...) keeps the guard's
    own divisors positive on an empty corpus, which passes trivially
    (mx_dl = 0)."""
    idf_max = f"greatest({d.idiv('(1000 * (2 * c0.n_docs - 1))', '3')}, 1)"
    cap = d.idiv(
        d.idiv(str(INT64_MAX), "greatest(44 * coalesce(c0.sum_dl, 0), 1)"),
        idf_max)
    return d.check(
        f"coalesce(c0.sum_dl, 0) <= 200000000000000000 "
        f"AND c0.mx_dl <= {cap}",
        "docs_bm25_topk: int64 headroom exceeded for the cleared-"
        "denominator milli score; swap to double arithmetic at this "
        "corpus scale")


def docs_bm25_topk(d: Dialect, base: str | None = None) -> str:
    """BM25 top-{BM25_TOP_K} ranking for the fixed conjunctive-free
    query (Robertson/Sparck Jones probabilistic retrieval; the
    Okapi BM25 form with k1=6/5, b=3/4) — kept EXACT in bigints by
    clearing denominators instead of using floats/ln:

      idf_milli   = (1000 * (2N - 2df + 1)) div (2df + 1)
                    [integer-monotone analog of ln(1+(N-df+.5)/(df+.5))]
      term score  = idf_milli * tf * 44 * sum_dl
                    div (20*tf*sum_dl + 6*sum_dl + 18*dl*N)
                    [= idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
                     with avgdl = sum_dl/N and all rationals cleared]

    Every intermediate fits int64 at driver scale (worst case
    idf_milli*tf*44*sum_dl with df>=1 stays under 2^63 through ~1e5
    docs x ~100-token average length; 1e5 x 1000-token or 1e6-doc
    corpora overflow); the production swap at 100 TB is double
    arithmetic, where cross-engine bit-equality is no longer required.
    That bound is ENFORCED in-plan (d.check on the one-row corpus
    relation, both engines): with idf_max = (1000(2N-1)) div 3 and
    tf ≤ max_dl, the guard requires max_dl ≤ MAX div (44·sum_dl) div
    idf_max (divide-first, so the guard itself cannot overflow; the
    sum_dl < 2e17 precondition keeps 44·sum_dl in range) and raises
    with the double swap named instead of silently wrapping the
    ranking.

    Scale posture: tf is computed only for query-term rows (filter
    before aggregate); df/N/sum_dl are constant-size dimensions
    broadcast into the score projection; the final top-k is ORDER BY +
    LIMIT -> distributed TakeOrdered, no global sort. With ``base``
    (the session token plane, Spark side) the doc-length stats AND the
    posting rows both read the cached plane — the self-contained form
    tokenizes the corpus twice (docstats + e) under CTE inlining.
    Zero-token docs are absent from the plane but contribute nothing
    to sum_dl and can never be scored (no query-term row), so only
    n_docs must come from the documents table itself."""
    dl = d.arr_len(d.tokens("text"))
    if base is not None:
        prefix = f"""docstats AS (
  SELECT doc_id, cast(count(*) as bigint) AS dl FROM {base} GROUP BY doc_id
),
corpus AS (
  SELECT n_docs, sum_dl FROM (
    SELECT (SELECT cast(count(*) as bigint) FROM documents) AS n_docs,
      (SELECT cast(count(*) as bigint) FROM {base}) AS sum_dl,
      (SELECT cast(coalesce(max(dl), 0) as bigint) FROM docstats) AS mx_dl
  ) c0 WHERE {_bm25_headroom_guard(d)} IS NULL
),
e AS (
  SELECT doc_id, tok AS term FROM {base}
)"""
    else:
        prefix = f"""docstats AS (
  SELECT doc_id, cast({dl} as bigint) AS dl FROM documents
),
corpus AS (
  SELECT n_docs, sum_dl FROM (
    SELECT cast(count(*) as bigint) AS n_docs,
      cast(sum(dl) as bigint) AS sum_dl,
      cast(coalesce(max(dl), 0) as bigint) AS mx_dl
    FROM docstats
  ) c0 WHERE {_bm25_headroom_guard(d)} IS NULL
),
e AS (
  SELECT doc_id, {d.explode('toks')} AS term
  FROM (SELECT doc_id, {d.tokens('text')} AS toks FROM documents) t
)"""
    return f"""WITH {prefix},
tf AS (
  SELECT doc_id, term, cast(count(*) as bigint) AS tf
  FROM e WHERE term IN {_in_list(QUERY_TERMS)}
  GROUP BY doc_id, term
),
df AS (SELECT term, cast(count(*) as bigint) AS df FROM tf GROUP BY term),
s AS (
  SELECT tf.doc_id, tf.term,
    {d.idiv('(1000 * (2 * c.n_docs - 2 * df.df + 1))', '(2 * df.df + 1)')}
      * tf.tf * 44 * c.sum_dl AS numer,
    (20 * tf.tf * c.sum_dl + 6 * c.sum_dl + 18 * ds.dl * c.n_docs) AS denom
  FROM tf
  JOIN df ON df.term = tf.term
  JOIN docstats ds ON ds.doc_id = tf.doc_id
  CROSS JOIN corpus c
),
scored AS (
  SELECT doc_id, cast(sum({d.idiv('numer', 'denom')}) as bigint) AS bm25_milli
  FROM s GROUP BY doc_id
)
SELECT doc_id, bm25_milli FROM scored
ORDER BY bm25_milli DESC, doc_id LIMIT {BM25_TOP_K}"""


# --- trained token-odds quality classifier ---------------------------------
# fastText-style supervised quality scoring, relationally: a weak label
# on a held-out TRAIN split yields per-token integer "odds points"
# (calibrated fraction of good docs containing the token, Laplace
# smoothed); every doc is scored as the integer mean of its tokens'
# weights. All arithmetic is bigint (counts, one idiv per weight, one
# idiv per doc), so Spark and DuckDB agree bit-for-bit.
NB_TRAIN_PCT = 80       # train split: id-hash bucket < 80 (same hash as
                        # docs_split_assign -> composable, resumable)
NB_SCALE = 1000         # weight = P(good | token) in parts-per-1000
NB_PRIOR = NB_SCALE // 2  # unseen-token weight (uninformative prior)
NB_MIN_TOKENS = 20      # weak label: long enough ...
NB_STOP_PCT = 5         # ... and >= 5% stopwords -> "good"


def _nb_train_ctes(d: Dialect) -> str:
    """Shared train-CTE chain (t/m/lab/trainrows) of the NB classifier:
    deterministic 80% id-hash split (functions.dual.id_hash_pct — the
    SAME stream as docs_split_assign, so classifier training composes
    with corpus splitting) + the weak rule label, ending in the (tok,
    weight) model relation ``w`` that text_nb_quality_score scores
    against."""
    from aws_trusted_advisor_explorer_spark.functions.dual import id_hash_pct

    pct = id_hash_pct(d)
    n_tok = d.arr_len("toks")
    n_stop = d.arr_len(d.filter_("toks", "x", f"x IN {_in_list(STOPWORDS)}"))
    return f"""WITH t AS (
  SELECT doc_id, {d.tokens('text')} AS toks FROM documents
),
m AS (
  SELECT doc_id, toks, cast({n_tok} as bigint) AS n_tokens,
    cast({n_stop} as bigint) AS n_stop, {pct} AS bucket_pct
  FROM t
),
lab AS (
  SELECT doc_id, toks,
    CASE WHEN n_tokens >= {NB_MIN_TOKENS}
          AND n_stop * 100 >= n_tokens * {NB_STOP_PCT}
         THEN 1 ELSE 0 END AS good
  FROM m WHERE bucket_pct < {NB_TRAIN_PCT} AND n_tokens > 0
),
trainrows AS (
  SELECT {d.explode('toks')} AS tok, good FROM lab
),
w AS (
  SELECT tok,
    {d.idiv(f'((sum(good) + 1) * {NB_SCALE})', '(count(*) + 2)')} AS weight
  FROM trainrows GROUP BY tok
)"""


def text_nb_quality_score(d: Dialect) -> str:
    """Supervised quality classifier (fastText/naive-Bayes shape,
    arXiv:1607.01759 as the published pattern): train token weights on
    a deterministic 80% split with a weak rule label (n_tokens >=
    {NB_MIN_TOKENS} AND stopword share >= {NB_STOP_PCT}%), then score
    EVERY doc as the integer mean of its token weights; keep verdict
    at the calibrated midpoint. Train CTEs are the _nb_train_ctes
    chain.

    Weight = ((n_good + 1) * {NB_SCALE}) div (n_docs + 2) — Laplace-
    smoothed P(good | token appears), integer-exact. Docs with zero
    alnum tokens are excluded (no evidence to score, division guard);
    the contract is documented rather than inventing a sentinel row.

    Scale posture (100 TB): the weight relation is vocab-sized (at most
    distinct tokens; cap with a DF floor at scale) -> broadcast hash
    join against the exploded (doc_id, tok) stream; both aggregates
    (weights, per-doc sums) are map-side-combining groupBys; the only
    big exchange carries (doc_id, tok-hash-sized rows), never text.
    The train pass is one extra scan, amortized by persisting weights
    as a model table."""
    return f"""{_nb_train_ctes(d)},
scorerows AS (
  SELECT doc_id, n_tokens, {d.explode('toks')} AS tok
  FROM m WHERE n_tokens > 0
),
s AS (
  SELECT sr.doc_id, sr.n_tokens,
    sum(coalesce(w.weight, {NB_PRIOR})) AS sum_w
  FROM scorerows sr LEFT JOIN w ON sr.tok = w.tok
  GROUP BY sr.doc_id, sr.n_tokens
)
SELECT doc_id, n_tokens, cast(sum_w as bigint) AS sum_w,
  cast({d.idiv('sum_w', 'n_tokens')} as bigint) AS nb_score,
  cast(CASE WHEN {d.idiv('sum_w', 'n_tokens')} >= {NB_PRIOR}
       THEN 1 ELSE 0 END as bigint) AS keep
FROM s"""


ZIPF_MAX_EXP = 16  # profile ranks 1, 2, 4, ..., 2^16


def text_zipf_profile(d: Dialect, base: str | None = None) -> str:
    """Zipf FREQUENCY PROFILE of the corpus vocabulary — exact token
    frequency at every power-of-two rank (1, 2, 4, ..., 2^{ZIPF_MAX_EXP},
    clipped to the vocabulary size) plus the integer-ppm ratio to the
    previous checkpoint: under Zipf's law freq(2r)/freq(r) ≈ 2^−s, so
    the ratio column reads the slope directly without a single libm
    call (a least-squares fit needs ln() on both axes, and the two
    engines' libm can differ in the last ulp — the module rule is
    integer-exact oracles, so the profile IS the deliverable). A
    corpus whose ratios sag toward 0 is template spam recombining a
    few heads; a flat-ratio tail is diverse long-tail text — the
    vocabulary-shape complement of text_heaps_vocab_growth's
    growth-over-time curve.

    Rank selection on the COMPACTED (freq, multiplicity) histogram
    ordered by freq DESC (the clip-calibration pattern): freq at rank
    r = max frequency whose cumulative type count reaches r. Exact
    integers; the lag window runs over the ≤{ZIPF_MAX_EXP + 1}-row
    checkpoint relation.

    Scale posture (100 TB): vocab groupBy (map-side combining) →
    frequency histogram groupBy (bounded by the frequency DOMAIN) →
    one prefix window over the compacted histogram (allowlisted) →
    a {ZIPF_MAX_EXP + 1}-row cross join of checkpoint ranks. With
    ``base`` the occurrence relation reads the session token plane;
    the self-contained form (also the DuckDB oracle) re-tokenizes
    inline."""
    if base is not None:
        occ = f"SELECT tok FROM {base}"
    else:
        occ = (f"SELECT {d.explode('toks')} AS tok FROM "
               f"(SELECT {d.tokens('text')} AS toks FROM documents) t0")
    ranks = d.arr_lit([f"cast({1 << k} as bigint)"
                       for k in range(ZIPF_MAX_EXP + 1)])
    ppm = d.idiv("(freq * 1000000)", "prev_freq")
    return f"""WITH vc AS (
  SELECT tok, cast(count(*) as bigint) AS freq FROM (
    {occ}
  ) o GROUP BY tok
),
fh AS (
  SELECT freq, cast(count(*) as bigint) AS m FROM vc GROUP BY freq
),
cdf AS (
  SELECT freq, sum(m) OVER (ORDER BY freq DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(m) OVER () AS n_types
  FROM fh
),
rk AS (SELECT {d.explode(ranks)} AS rank FROM (SELECT 1 AS one) o1),
sel AS (
  SELECT rk.rank,
    cast(max(CASE WHEN cdf.cum >= rk.rank THEN cdf.freq END) as bigint)
      AS freq,
    cast(max(cdf.n_types) as bigint) AS n_types
  FROM rk CROSS JOIN cdf
  GROUP BY rk.rank
  HAVING rk.rank <= max(cdf.n_types)
)
SELECT rank, freq, n_types,
  CASE WHEN prev_freq IS NULL OR prev_freq = 0 THEN NULL
       ELSE cast({ppm} as bigint) END AS ratio_ppm
FROM (
  SELECT rank, freq, n_types,
    lag(freq) OVER (ORDER BY rank) AS prev_freq
  FROM sel
) x"""


HEAPS_BUCKETS = 10  # corpus-prefix checkpoints (doc_id deciles)


def text_heaps_vocab_growth(d: Dialect, base: str | None = None) -> str:
    """Vocabulary GROWTH curve (Heaps' law, the tokenizer-sizing /
    corpus-diversity diagnostic): split the corpus into {HEAPS_BUCKETS}
    prefixes by doc_id (the ingestion-order proxy docs_ngram_novelty
    uses) and report, per checkpoint, the token occurrences added, the
    NEW types introduced (first-occurrence bucket = bucket of the
    type's min doc_id — monotone in doc_id, so bucket-min equals
    doc-min), and the cumulative tokens / types / exact
    types-per-million-tokens. A flattening curve says the corpus is
    recombining a closed vocabulary (template spam, crawl loops); a
    Heaps-straight curve says new material is still arriving — the
    corpus-level complement of the per-doc novelty score.

    Exact integers throughout (cumulative sums + one integer ppm
    division). With ``base`` (the session token plane) the occurrence
    relation reads the materialized view; the self-contained form —
    also the DuckDB oracle — re-tokenizes inline, so the driver check
    cross-verifies the plane against a plane-free derivation.

    Scale posture (100 TB): one token explode feeds TWO map-side-
    combining aggregates (per-bucket occurrence counts; per-type min
    bucket — vocab-sized, the same key the tfidf family groups on);
    the cumulative window runs over the {HEAPS_BUCKETS}-row checkpoint
    relation (plan-audit allowlisted as bounded) and the 1-row id-span
    relation broadcast is the docs_bm25_topk corpus-stats shape."""
    if base is not None:
        occ = f"SELECT doc_id, tok FROM {base}"
    else:
        occ = (f"SELECT doc_id, {d.explode('toks')} AS tok FROM "
               f"(SELECT doc_id, {d.tokens('text')} AS toks "
               f"FROM documents) t0")
    bucket = (f"least(cast({HEAPS_BUCKETS} as bigint), "
              f"{d.idiv('(e.doc_id - ids.lo) * ' + str(HEAPS_BUCKETS), 'greatest(ids.hi - ids.lo + 1, 1)')}"
              f" + 1)")
    cum = ("OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING "
           "AND CURRENT ROW)")
    ppm = d.idiv("(cum_types * 1000000)", "greatest(cum_tokens, 1)")
    return f"""WITH e AS (
  {occ}
),
ids AS (
  SELECT cast(min(doc_id) as bigint) AS lo,
    cast(max(doc_id) as bigint) AS hi
  FROM documents
),
b AS (
  SELECT e.tok, {bucket} AS decile
  FROM e CROSS JOIN ids
),
occ AS (
  SELECT decile, cast(count(*) as bigint) AS n_tokens
  FROM b GROUP BY decile
),
intro AS (
  SELECT tok, cast(min(decile) as bigint) AS decile FROM b GROUP BY tok
),
nv AS (
  SELECT decile, cast(count(*) as bigint) AS n_new_types
  FROM intro GROUP BY decile
),
g AS (
  SELECT occ.decile, occ.n_tokens,
    coalesce(nv.n_new_types, cast(0 as bigint)) AS n_new_types
  FROM occ LEFT JOIN nv ON nv.decile = occ.decile
),
c AS (
  SELECT decile, n_tokens, n_new_types,
    cast(sum(n_tokens) {cum} as bigint) AS cum_tokens,
    cast(sum(n_new_types) {cum} as bigint) AS cum_types
  FROM g
)
SELECT decile, n_tokens, n_new_types, cum_tokens, cum_types,
  cast({ppm} as bigint) AS types_ppm
FROM c"""


def docs_ngram_novelty(d: Dialect, base: str | None = None) -> str:
    """Per-doc n-gram NOVELTY vs the corpus prefix — the
    diversity/memorization curation signal: of a document's distinct
    3-gram shingles, how many were INTRODUCED by this document (no doc
    with a lower doc_id — the ingestion-order proxy — carries the
    shingle) vs inherited from earlier corpus. A low-novelty tail is
    boilerplate/recombination; sorting a corpus report by novelty is
    how curation finds both the valuable long-tail and the
    template-stamped spam. Emits distinct-shingle count, novel count,
    and exact integer novelty ppm; short docs (< 3 tokens, no
    shingles) keep a row with NULL ppm (the gate family's
    row-preserving rule).

    Scale posture (100 TB): first-introducer is min(doc_id) OVER
    (PARTITION BY hv) on the DISTINCT shingle relation — ONE
    hv-keyed exchange (high-cardinality partitions, never
    one-per-anything), then one doc_id groupBy; with ``base`` (the
    shingle plane's own view name, validated like dedup._shingle_cte)
    the distinct relation is read from the plane's MATERIALIZED
    distinct ride-along, so neither the explode+hash prefix nor the
    DISTINCT exchange re-runs per query. No self-join, no pair
    explosion — this is corpus-linear where the overlap REPORTS
    (dedup_*) are pair-bound."""
    from aws_trusted_advisor_explorer_spark.operators.dedup import (
        SHINGLE_DISTINCT_VIEW, _require_shingle_base, shingle_hash_sql,
    )

    if base is not None:
        _require_shingle_base(base, "the distinct ride-along is keyed "
                                    "to it")
        sd_body = f"SELECT doc_id, hv FROM {SHINGLE_DISTINCT_VIEW}"
        inline = ""
    else:
        sd_body = "SELECT DISTINCT doc_id, hv FROM __nv_inline"
        inline = f"__nv_inline {d.cte_as()} ({shingle_hash_sql(d)}),\n"
    ppm = d.idiv("(n_novel * 1000000)", "n_shingles")
    return f"""WITH {inline}sd AS (
  {sd_body}
),
w AS (
  SELECT doc_id, hv,
    min(doc_id) OVER (PARTITION BY hv) AS first_doc
  FROM sd
),
p AS (
  SELECT doc_id,
    cast(count(*) as bigint) AS n_shingles,
    cast(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) as bigint)
      AS n_novel
  FROM w GROUP BY doc_id
)
SELECT docs.doc_id,
  coalesce(p.n_shingles, cast(0 as bigint)) AS n_shingles,
  coalesce(p.n_novel, cast(0 as bigint)) AS n_novel,
  CASE WHEN p.n_shingles IS NULL THEN NULL
       ELSE cast({ppm} as bigint) END AS novelty_ppm
FROM documents docs LEFT JOIN p ON p.doc_id = docs.doc_id"""


BUILDERS = {
    "docs_boolean_search": docs_boolean_search,
    "docs_bm25_topk": docs_bm25_topk,
    "text_heaps_vocab_growth": text_heaps_vocab_growth,
    "text_zipf_profile": text_zipf_profile,
    "text_nb_quality_score": text_nb_quality_score,
    "text_unicode_sanitize": text_unicode_sanitize,
    "text_bpe_pair_counts": text_bpe_pair_counts,
    "docs_quality_cutoff_calibration": docs_quality_cutoff_calibration,
    "text_tokenizer_coverage": text_tokenizer_coverage,
    # text_bpe_merge_train is NOT here: like text_bpe_tokenize_count,
    # its self-contained unrolled SQL is DuckDB-oracle-only (Catalyst
    # CTE inlining re-evaluates the {BPE_ROUNDS}-round chain
    # exponentially and trips the analyzer's iteration cap); the Spark
    # form is the iterative twin text_bpe_merge_train_df, wired
    # explicitly in __spark_entry__.
    "text_token_stats": text_token_stats,
    "text_lang_id": text_lang_id,
    "text_quality": text_quality,
    "text_fingerprint": text_fingerprint,
    "text_repetition": text_repetition,
    "docs_quality_gate": docs_quality_gate,
    "docs_curation_drift": docs_curation_drift,
    "docs_top_quality": docs_top_quality,
    "docs_rejected": docs_rejected,
    "text_commonness_score": text_commonness_score,
    "text_lang_confusion": text_lang_confusion,
    "text_tfidf_topk": text_tfidf_topk,
    "text_bigram_surprise": text_bigram_surprise,
    "text_lm_score_ref": text_lm_score_ref,
    "docs_ngram_novelty": docs_ngram_novelty,
    "docs_dsir_importance": docs_dsir_importance,
    # docs_ccnet_buckets is here for the ORACLE; the wired Spark path
    # is the distributed twin docs_ccnet_buckets_df (compacted-CDF +
    # broadcast tercile map), overridden in __spark_entry__.
    "docs_ccnet_buckets": docs_ccnet_buckets,
}
