"""Property-based tests (hypothesis) for the view layer's Presto-semantics
renderers and the cross-engine hash primitives: arbitrary generated
inputs must produce identical results in Spark and DuckDB, not just the
fixture corpus (SURVEY.md §5.2 strategy; the §2.5 function matrix incl.
the F8 zero-guard quirk)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aws_trusted_advisor_explorer_spark.functions.dual import DUCK, SPARK
from aws_trusted_advisor_explorer_spark.plans import views

SETTINGS = dict(max_examples=20, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])

money_st = st.builds(
    lambda dollars, cents, trail: f"${dollars}.{cents:02d}" + " " * trail,
    st.integers(0, 10**6), st.integers(0, 99), st.integers(0, 2))

texts_st = st.text(
    alphabet=st.sampled_from("abcdefghij 0123456789"), min_size=0, max_size=60)


_CON = duckdb.connect()


def _duck(sql: str):
    return _CON.sql(sql).fetchone()[0]


def _render_both(spark, render, value: str):
    """``render`` applied to the string literal ``value`` (every column
    the renderer reads is that literal), evaluated in Spark and in
    DuckDB."""
    assert "'" not in value and "\\" not in value
    lit = f"'{value}'"
    sp = spark.sql(f"SELECT {render(SPARK, lambda _: lit)} AS v").collect()[0].v
    return sp, _duck(f"SELECT {render(DUCK, lambda _: lit)} AS v")


@given(money_st)
@settings(**SETTINGS)
def test_money_parse_matches_duckdb(spark, s):
    sp, du = _render_both(spark, views._money("v", "x").render, s)
    assert sp == du == Decimal(s.strip()[1:])


@given(st.integers(0, 10**7))
@settings(**SETTINGS)
def test_zero_guard_quirk_matches_duckdb(spark, n):
    """F8: every '0' digit becomes '1' BEFORE the decimal cast —
    10 -> 11, 200 -> 211 (create-athena-views-lambda.py:147-148).

    Domain capped at 8 digits: a 9-digit count maps to an all-ones
    value that overflows decimal(10,2), which BOTH engines reject
    (Spark ANSI and DuckDB error alike) — faithful to the reference's
    quirk, but outside the value-comparable domain."""
    sp, du = _render_both(spark, views._zero_guard("x"), str(n))
    assert sp == du == Decimal(str(n).replace("0", "1"))


# (renderer, inputs, expected value) for the view columns the fixture
# oracle alone covered: the RDS double 2-arg replace, the positional
# percent substr and the ISO-8601 expiration parse
_pct_st = st.builds(
    lambda whole, frac, tail: f"{whole}.{frac:02d}%{tail}",
    st.integers(0, 9), st.integers(0, 99),
    st.sampled_from(["", "  Low", " ", "%"]))
_iso_st = st.builds(
    lambda t, tail: t.strftime("%Y-%m-%dT%H:%M:%S") + tail,
    st.datetimes(dt.datetime(1971, 1, 1), dt.datetime(2099, 12, 31)),
    st.sampled_from(["", "Z", ".000Z", "+00:00"]))
RENDER_CASES = {
    "money_rds": (views._money_rds("v", "x").render,
                  st.builds(lambda q, dollars, cents, trail:
                            f'{q}${dollars}.{cents:02d}{q}' + " " * trail,
                            st.sampled_from(["", '"']), st.integers(0, 10**6),
                            st.integers(0, 99), st.integers(0, 2)),
                  lambda s: Decimal(s.strip().strip('"')[1:])),
    "pct_3": (views._pct("v", "x", 3).render, _pct_st, lambda s: Decimal(s[:3])),
    "pct_4": (views._pct("v", "x", 4).render, _pct_st, lambda s: Decimal(s[:4])),
    "iso_expiration": (views._iso_ts("v", "x").render, _iso_st,
                       lambda s: dt.datetime.fromisoformat(s[:19])),
}


@pytest.mark.parametrize("case", sorted(RENDER_CASES))
@given(data=st.data())
@settings(**SETTINGS)
def test_view_renderer_matches_duckdb(spark, case, data):
    """Each view renderer gives the same value in Spark and DuckDB, and
    the value the reference's Presto expression means."""
    render, inputs, expect = RENDER_CASES[case]
    s = data.draw(inputs)
    sp, du = _render_both(spark, render, s)
    assert sp == du == expect(s)


@given(texts_st)
@settings(**SETTINGS)
def test_poly_hash_matches_duckdb(spark, s):
    lit = "'" + s.replace("'", "''") + "'"
    spark_val = spark.sql(f"SELECT {SPARK.poly_hash(lit)} AS h").collect()[0].h
    duck_val = _duck(f"SELECT {DUCK.poly_hash(lit)} AS h")
    assert spark_val == duck_val


@given(texts_st, st.integers(2, 4))
@settings(**SETTINGS)
def test_shingles_match_duckdb(spark, s, n):
    lit = "'" + s.replace("'", "''") + "'"
    sp = spark.sql(
        f"SELECT {SPARK.shingles(SPARK.tokens(lit), n)} AS sh").collect()[0].sh
    du = _duck(f"SELECT {DUCK.shingles(DUCK.tokens(lit), n)} AS sh")
    assert list(sp) == list(du)


@given(st.lists(st.floats(-1e3, 1e3, allow_nan=False, width=32),
                min_size=1, max_size=16))
@settings(**SETTINGS)
def test_dot_fold_bit_identical(spark, xs):
    # go through an explicit double cast: both engines type bare decimal
    # literals as DECIMAL (different precisions) before narrowing, which
    # diverges — the data path reads identical float32 bits from parquet
    elems = [f"cast(cast({x!r} as double) as float)" for x in xs]
    arr_s = "array(" + ", ".join(elems) + ")"
    arr_d = "[" + ", ".join(elems) + "]"
    sp = spark.sql(f"SELECT {SPARK.dot(arr_s, arr_s)} AS v").collect()[0].v
    du = _duck(f"SELECT {DUCK.dot(arr_d, arr_d)} AS v")
    assert sp == du  # exact equality, not approx


def test_presto_two_arg_replace_deletes(spark):
    """Presto's 2-arg replace deletes every match ('$' anywhere, and '"'
    in the RDS form), in both engines."""
    for render, s, want in ((views._money("v", "x").render, "$$12$34.5$ ", "1234.50"),
                            (views._money_rds("v", "x").render, '"$12$34.5"', "1234.50")):
        assert _render_both(spark, render, s) == (Decimal(want), Decimal(want))


@given(texts_st, st.integers(2, 5))
@settings(**SETTINGS)
def test_shingle_hvs_match_duckdb(spark, s, n):
    """The token-hash shingle combinator (contamination's hot path):
    identical arrays in both engines, every value in [0, P_MOD), and
    exactly max(0, n_tokens - n + 1) window hashes."""
    import re

    from aws_trusted_advisor_explorer_spark.functions.dual import P_MOD

    lit = "'" + s.replace("'", "''") + "'"
    sp = spark.sql(
        f"SELECT {SPARK.shingle_hvs(SPARK.tokens(lit), n)} AS hv").collect()[0].hv
    du = _duck(f"SELECT {DUCK.shingle_hvs(DUCK.tokens(lit), n)} AS hv")
    assert list(sp) == list(du)
    n_tok = len(re.findall("[a-z0-9]+", s.lower()))
    assert len(sp) == max(0, n_tok - n + 1)
    assert all(0 <= h < P_MOD for h in sp)


# random BPE training dictionaries: short alnum words with small
# alphabet (forces shared pairs and L=R runs), positive frequencies
_bpe_word_st = st.text(alphabet=st.sampled_from("abc1"), min_size=1,
                       max_size=8)
_bpe_dict_st = st.dictionaries(_bpe_word_st, st.integers(1, 50),
                               min_size=2, max_size=12)


@given(_bpe_dict_st)
@settings(**SETTINGS)
def test_bpe_merge_train_sql_matches_greedy_replay(words):
    """The unrolled dual-dialect BPE trainer (DuckDB rendering — fast
    enough for hypothesis; the Spark rendering is pinned equal by the
    fixture parity test) must reproduce a pure-Python greedy trainer
    on arbitrary dictionaries — random runs of identical symbols
    exercise the positional L=R parity rule far beyond the planted
    fixture."""
    from aws_trusted_advisor_explorer_spark.operators import textops

    con = duckdb.connect()
    con.execute("CREATE TABLE bpe_dict (token VARCHAR, freq BIGINT, "
                "syms VARCHAR[])")
    for tok, freq in words.items():
        con.execute("INSERT INTO bpe_dict VALUES (?, ?, ?)",
                    [tok, freq, list(tok)])
    got = sorted(tuple(r) for r in con.execute(
        textops.text_bpe_merge_train(DUCK, base="bpe_dict")).fetchall())

    from tests.test_extensions import bpe_batched_replay

    items = [(list(tok), f) for tok, f in words.items()]
    assert got == sorted(bpe_batched_replay(items))


# --- r6 operator properties (DuckDB rendering — fast enough for
# hypothesis; Spark == DuckDB on these builders is pinned by the
# fixture/driver parity tests) ------------------------------------

_tok_st = st.sampled_from([f"w{i}" for i in range(8)])


def _register_docs(rows):
    """rows: (doc_id, lang, text) -> fresh DuckDB conn with a
    documents view (the builders' default base)."""
    import pandas as pd

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        rows, columns=["doc_id", "lang", "text"]))
    return con


@given(st.lists(_tok_st, min_size=11, max_size=11),
       st.lists(_tok_st, min_size=0, max_size=6),
       st.lists(_tok_st, min_size=0, max_size=6),
       st.lists(_tok_st, min_size=0, max_size=14))
@settings(**SETTINGS)
def test_winnow_guarantee_property(run, pre, suf, other):
    """Schleimer et al.'s detection guarantee on ARBITRARY corpora:
    any two docs sharing a token run of W + SPAN_GRAM - 1 (= 11)
    tokens MUST share a selected fingerprint and surface as a
    dedup_winnow_overlap candidate pair, at any offsets; and every
    selected (hv, pos) equals the pure-Python rightmost-min replay."""
    from aws_trusted_advisor_explorer_spark.operators import dedup
    from tests.test_extensions import _py_winnow

    assert dedup.WINNOW_W + dedup.SPAN_GRAM - 1 == 11
    rows = [(1, "en", " ".join(pre + run)),
            (2, "en", " ".join(run + suf)),
            (3, "en", " ".join(other))]
    con = _register_docs(rows)

    fp_sql = (f"WITH {dedup._winnow_fp_cte(DUCK)} "
              f"SELECT doc_id, hv, pos FROM fp")
    got: dict = {}
    for doc_id, hv, pos in con.sql(fp_sql).fetchall():
        got.setdefault(doc_id, set()).add((hv, pos))
    expect = {i: _py_winnow(t) for i, _, t in rows}
    assert got == {i: s for i, s in expect.items() if s}

    pairs = {(a, b) for a, b, *_ in
             con.sql(dedup.dedup_winnow_overlap(DUCK)).fetchall()}
    assert (1, 2) in pairs


_lang_st = st.sampled_from(["en", "xx"])
_doc_st = st.tuples(_lang_st, st.lists(_tok_st, min_size=0, max_size=12))


@given(st.lists(_doc_st, min_size=1, max_size=10))
@settings(**SETTINGS)
def test_lm_score_property(docs):
    """The reference-LM scorer equals the pure-Python replay on
    arbitrary corpora — random doc_ids land on both sides of the
    ref-slice hash, random token streams exercise seen/unseen bigrams,
    heads, and reference-less languages far beyond the planted
    fixture."""
    from aws_trusted_advisor_explorer_spark.operators import textops
    from tests.test_extensions import _py_lm_scores

    rows = [(i * 7, lang, " ".join(toks))
            for i, (lang, toks) in enumerate(docs)]
    con = _register_docs(rows)
    got = {doc_id: (lang, n, tot, sc, bool(ref))
           for doc_id, lang, n, tot, sc, ref in
           con.sql(textops.text_lm_score_ref(DUCK)).fetchall()}
    assert got == _py_lm_scores(rows)


_us_st = st.integers(0, 3 * 600_000_000)


@given(st.lists(_us_st, min_size=0, max_size=8),
       st.lists(_us_st, min_size=0, max_size=8))
@settings(**SETTINGS)
def test_interval_join_property(error_us, purchase_us):
    """The bucketized interval join equals a brute-force Python range
    scan on arbitrary timestamp placements — bucket-boundary and
    window-edge collisions hypothesis will find are exactly the cases
    the planted fixture cannot enumerate."""
    import datetime as dt

    import pandas as pd

    from aws_trusted_advisor_explorer_spark.operators import eventops

    base = dt.datetime(2026, 1, 1)
    rows = []
    for i, us in enumerate(error_us):
        rows.append((100 + i, base + dt.timedelta(microseconds=us),
                     1, "error", 0.0, "{}"))
    for i, us in enumerate(purchase_us):
        rows.append((i, base + dt.timedelta(microseconds=us),
                     1, "purchase", float(i), "{}"))
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"]
    ).astype({"event_id": "int64", "ts": "datetime64[us]",
              "user_id": "int64", "value": "float64"})
    con = duckdb.connect()
    con.register("events", pdf)

    got = {pid: (n, first) for pid, _, n, first in
           con.sql(eventops.events_interval_join(DUCK)).fetchall()}
    expect = {}
    for i, pu in enumerate(purchase_us):
        hits = [100 + j for j, ws in enumerate(error_us)
                if ws <= pu < ws + eventops.INCIDENT_DUR_US]
        if hits:
            expect[i] = (len(hits), min(hits))
    assert got == expect


_src_st = st.sampled_from(["a", "b", "c"])


@given(st.lists(st.tuples(_src_st, st.integers(0, 40)),
                min_size=1, max_size=12))
@settings(**SETTINGS)
def test_temperature_mix_property(docs):
    """docs_temperature_mix equals the pure-Python replay on arbitrary
    per-source token distributions — including all-empty sources
    (sqrt(0) weights) and single-source corpora."""
    from aws_trusted_advisor_explorer_spark.operators import corpusops
    from tests.test_extensions import _py_temperature_mix

    import pandas as pd

    rows = [(i, src, " ".join(f"t{j}" for j in range(n)))
            for i, (src, n) in enumerate(docs)]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        rows, columns=["doc_id", "source", "text"]))
    got = {src: tuple(rest) for src, *rest in
           con.sql(corpusops.docs_temperature_mix(DUCK)).fetchall()}
    assert got == _py_temperature_mix(rows)


@given(st.lists(
    st.tuples(st.sampled_from(("a", "b", "c")),     # event_type
              st.integers(0, 10 ** 6)),             # epoch seconds
    min_size=1, max_size=60))
@settings(**SETTINGS)
def test_disorder_sharded_merge_property(evs):
    """events_disorder_audit_sharded == the unsharded signal form ==
    a pure-Python running-max replay on ARBITRARY event times — the
    prefix-max merge must be exact for any arrival pattern, not just
    the driver corpus (shards here are tiny: DISORDER_SHARD_W=256 vs
    event_ids 1..60, so single-shard; a second pass widens ids past
    the shard width to force multi-shard merges)."""
    import pandas as pd

    from aws_trusted_advisor_explorer_spark.operators import eventops

    for id_stride in (1, 97):  # 97*60 > DISORDER_SHARD_W -> multi-shard
        rows = [(i * id_stride + 1, pd.Timestamp(sec, unit="s"), 1, et,
                 0.0, "{}")
                for i, (et, sec) in enumerate(evs)]
        pdf = pd.DataFrame(rows, columns=[
            "event_id", "ts", "user_id", "event_type", "value", "props"])
        pdf = pdf.astype({"ts": "datetime64[us]"})
        con = duckdb.connect()
        con.register("events", pdf)

        sharded = {r[0]: r[1:] for r in con.sql(
            eventops.events_disorder_audit_sharded(DUCK)).fetchall()}
        unsharded = {r[0]: r[1:] for r in con.sql(
            eventops.events_disorder_audit_signal(DUCK)).fetchall()}
        assert sharded == unsharded

        # python replay of the modeled disordered ingest
        byt: dict = {}
        for eid, ts, _, et, _, _ in rows:
            delay = (eventops.LATE_SHIFT
                     if eid % eventops.LATE_MOD == 0 else 0)
            ep = int(pd.Timestamp(ts).value // 1000)
            byt.setdefault(et, []).append((eid + delay, eid, ep))
        expect = {}
        for et, rs in byt.items():
            hw, n_late, worst = None, 0, 0
            for _, _, ep in sorted(rs):
                hw = ep if hw is None else max(hw, ep)
                if ep < hw:
                    n_late += 1
                    worst = max(worst, hw - ep)
            expect[et] = (len(rs), n_late, worst)
        assert sharded == expect


@given(st.text(alphabet=st.sampled_from("ab9 d\\x"), min_size=0,
               max_size=20))
@settings(**SETTINGS)
def test_re_replace_backslash_pattern_parity(spark, s):
    """Regression (review finding): Dialect.re_replace takes the RAW
    regex and owns the Spark literal doubling — '\\d' must delete
    digits in BOTH engines (pre-fix Spark's single-quoted literal
    consumed the backslash and the regex matched the LETTER d)."""
    import re as _re

    # the VALUE literal is dialect-escaped here (Spark single-quoted
    # literals process backslashes, DuckDB's do not) — the point under
    # test is that the PATTERN needs no such caller-side splitting
    spark_lit = "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    duck_lit = "'" + s.replace("'", "''") + "'"
    pat = chr(92) + "d"
    spark_val = spark.sql(
        "SELECT " + SPARK.re_replace(spark_lit, pat, "") + " AS v"
    ).collect()[0].v
    duck_val = _duck("SELECT " + DUCK.re_replace(duck_lit, pat, ""))
    expect = _re.sub(r"\d", "", s)
    assert spark_val == duck_val == expect


def _pph(s: str) -> int:
    """Python replay of Dialect.poly_hash (char fold)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import (
        HASH_INIT, HASH_MULT, P_MOD,
    )

    a = HASH_INIT
    for ch in s:
        a = (a * HASH_MULT + ord(ch)) % P_MOD
    return a


def _docs_frame(texts):
    import pandas as pd

    return pd.DataFrame({
        "doc_id": list(range(1, len(texts) + 1)),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": ["s"] * len(texts),
        "n_chars": [len(t) for t in texts]})


@given(st.lists(st.integers(0, 10**9), unique=True,
                min_size=1, max_size=12))
@settings(**SETTINGS)
def test_epoch_shuffle_plan_property(doc_ids):
    """docs_epoch_shuffle_plan invariants on arbitrary id sets: each
    epoch's global_pos is a PERMUTATION of 1..N; global order ==
    (shard, shard_pos) lexicographic order; every (shard, pos) matches
    the python replay of the salted hash construction."""
    import pandas as pd

    from aws_trusted_advisor_explorer_spark.operators import corpusops

    pdf = _docs_frame(["t"] * len(doc_ids))
    pdf["doc_id"] = doc_ids
    con = duckdb.connect()
    con.register("documents", pdf)
    rows = con.sql(corpusops.docs_epoch_shuffle_plan(DUCK)).fetchall()
    got = {(d, e): (s, p, g) for d, e, s, p, g in rows}
    assert len(got) == len(doc_ids) * corpusops.SHUFFLE_EPOCHS
    for e in range(corpusops.SHUFFLE_EPOCHS):
        ep_rows = sorted((g, s, p, d) for (d, ee), (s, p, g) in got.items()
                         if ee == e)
        assert [g for g, *_ in ep_rows] == list(range(1, len(doc_ids) + 1))
        # global order is (shard, shard_pos) lexicographic
        assert [(s, p) for _, s, p, _ in ep_rows] == sorted(
            (s, p) for _, s, p, _ in ep_rows)
        # replay: shard + within-shard rank by (hash, doc_id)
        byshard: dict = {}
        for d in doc_ids:
            h = _pph(f"shuf:{e}:{d}")
            byshard.setdefault(h % corpusops.SHUFFLE_SHARDS, []).append(
                (h, d))
        for s, members in byshard.items():
            for p, (h, d) in enumerate(sorted(members), 1):
                assert got[(d, e)][:2] == (s, p), (d, e)


@given(st.lists(st.text(alphabet=st.sampled_from("ab c"), min_size=0,
                        max_size=24), min_size=1, max_size=8))
@settings(**SETTINGS)
def test_ngram_novelty_conservation_property(texts):
    """docs_ngram_novelty invariants on arbitrary corpora: Σ n_novel
    == the number of DISTINCT shingle hashes in the corpus (every
    shingle has exactly ONE first introducer), 0 <= n_novel <=
    n_shingles per doc, and the lowest doc_id owning a shingle set is
    100% novel."""
    import re as _re

    from aws_trusted_advisor_explorer_spark.operators import textops

    con = duckdb.connect()
    con.register("documents", _docs_frame(texts))
    rows = {r[0]: (r[1], r[2], r[3]) for r in con.sql(
        textops.docs_ngram_novelty(DUCK)).fetchall()}
    doc_hvs = {}
    for i, t in enumerate(texts, 1):
        toks = _re.findall(r"[a-z0-9]+", t.lower())
        doc_hvs[i] = {_pph(" ".join(toks[j:j + 3]))
                      for j in range(len(toks) - 2)}
    all_hvs = set().union(*doc_hvs.values()) if doc_hvs else set()
    assert sum(n for _, n, _ in rows.values()) == len(all_hvs)
    for i, (n_sh, n_nov, ppm) in rows.items():
        assert 0 <= n_nov <= n_sh
        assert n_sh == len(doc_hvs[i])
        assert (ppm is None) == (n_sh == 0)
    with_shingles = [i for i in sorted(doc_hvs) if doc_hvs[i]]
    if with_shingles:
        first = with_shingles[0]
        assert rows[first][1] == rows[first][0]  # all novel
        assert rows[first][2] == 1_000_000


@given(st.lists(
    st.tuples(st.integers(1, 3),                       # user_id
              st.sampled_from(["a", "b", "c"])),       # event_type
    min_size=1, max_size=24))
@settings(**SETTINGS)
def test_transition_matrix_property(evs):
    """events_transition_matrix invariants on arbitrary streams: cell
    counts match the python replay of per-user (ts, event_id)-ordered
    adjacency, row sums equal n_from, rates are exact integer ppm, and
    Σ n == Σ_user max(len-1, 0)."""
    import collections

    import pandas as pd

    from aws_trusted_advisor_explorer_spark.operators import eventops

    rows = [(i + 1, pd.Timestamp(1_700_000_000 + i * 7, unit="s"),
             u, et, 0.0, "{}") for i, (u, et) in enumerate(evs)]
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf = pdf.astype({"ts": "datetime64[us]"})
    con = duckdb.connect()
    con.register("events", pdf)
    got = {(r[0], r[1]): (r[2], r[3], r[4]) for r in con.sql(
        eventops.events_transition_matrix(DUCK)).fetchall()}

    byu: dict = collections.defaultdict(list)
    for eid, ts, u, et, _, _ in rows:
        byu[u].append((ts, eid, et))
    cnt: collections.Counter = collections.Counter()
    for seq in byu.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            cnt[(a, b)] += 1
    n_from: collections.Counter = collections.Counter()
    for (a, _), n in cnt.items():
        n_from[a] += n
    assert {k: v[0] for k, v in got.items()} == dict(cnt)
    for (a, b), (n, nf, ppm) in got.items():
        assert nf == n_from[a] and ppm == n * 1_000_000 // nf
    assert (sum(n for n, _, _ in got.values())
            == sum(max(len(s) - 1, 0) for s in byu.values()))


pit_evs_st = st.lists(
    st.tuples(st.integers(1, 3),                      # user_id
              st.sampled_from(["click", "view", "purchase", "error"]),
              st.integers(0, 40),                     # 6h grid slot (ties!)
              st.integers(0, 9999)),                  # value cents
    min_size=1, max_size=40)


@given(pit_evs_st)
@settings(**SETTINGS)
def test_pit_features_and_labels_property(evs):
    """events_pit_features + events_training_labels invariants on
    arbitrary streams with FORCED timestamp ties (6h grid): every
    backward frame excludes the anchor's microsecond and everything
    after; every forward frame excludes the anchor and its peers;
    value sums are exact cents; one output row per purchase in both."""
    import pandas as pd

    from aws_trusted_advisor_explorer_spark.operators import eventops

    step = 21_600_000_000  # 6h in micros
    base = 1_700_000_000_000_000
    rows = [(i + 1, pd.Timestamp((base + slot * step) // 1_000_000,
                                 unit="s"),
             u, et, cents / 100.0, "{}")
            for i, (u, et, slot, cents) in enumerate(evs)]
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf = pdf.astype({"ts": "datetime64[us]"})
    con = duckdb.connect()
    con.register("events", pdf)

    # pandas Timestamp.value is NANOS; events are us-aligned
    ev = [(u, eid, et, int(round(v * 100)), int(ts.value) // 1000)
          for eid, ts, u, et, v, _ in rows]

    got = {r[1]: r for r in con.sql(
        eventops.events_pit_features(DUCK)).fetchall()}
    purchases = [e for e in ev if e[2] == "purchase"]
    assert len(got) == len(purchases)
    for (u, eid, _, cents, us) in purchases:
        mine = [e for e in ev if e[0] == u]
        w1 = [e for e in mine
              if us - eventops.PIT_SHORT_US <= e[4] <= us - 1]
        w7 = [e for e in mine
              if us - eventops.PIT_LONG_US <= e[4] <= us - 1]
        r = got[eid]
        assert r[3] == sum(e[2] == "click" for e in w1)
        assert r[4] == sum(e[2] == "view" for e in w1)
        assert abs(r[5] - sum(e[3] for e in w1
                              if e[2] == "click") / 100.0) < 1e-9
        assert r[6] == len(w7)
        assert r[7] == sum(e[2] == "purchase" for e in w7)

    lab = {r[1]: r for r in con.sql(
        eventops.events_training_labels(DUCK)).fetchall()}
    assert len(lab) == len(purchases)
    for (u, eid, _, _, us) in purchases:
        fwd = [e[4] for e in purchases
               if e[0] == u
               and us + 1 <= e[4] <= us + eventops.LABEL_HORIZON_US]
        r = lab[eid]
        assert r[3] == len(fwd)
        assert r[4] == (1 if fwd else 0)
        assert r[5] == (min(fwd) - us if fwd else None)
