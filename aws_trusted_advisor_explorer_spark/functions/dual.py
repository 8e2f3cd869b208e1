"""Dual-dialect SQL expression kit for the training-data extension plane.

The extension operators (dedup, similarity search, text analysis,
multimodal stats — BASELINE.json "north_star" scope, beyond the
reference surface at /root/reference) are each defined ONCE as a SQL
builder parameterized by a :class:`Dialect`, emitting the Spark SQL
query and the DuckDB oracle query from the same template. Every
primitive below is pinned to arithmetic that is bit-identical across
the two engines:

- integer polynomial hashing (mod 1e9+7) instead of engine-native
  ``hash()`` (Spark murmur3 != DuckDB's hash);
- array folds with an explicit init and fixed left-to-right order, so
  double summation (dot products) is IEEE-identical;
- no double->decimal rounding on computed values; doubles flow through
  raw because both engines produce the same bits for the same op order.

Scale posture: everything here is declarative SQL -> Catalyst
whole-stage codegen; the only Python in the hot path is the
explicitly-marked Pandas-UDF multimodal ops (operators/multimodal.py).
"""

from __future__ import annotations

from dataclasses import dataclass

P_MOD = 1_000_000_007  # hash modulus (fits all intermediates in int64)
HASH_INIT = 7
HASH_MULT = 31
SHINGLE_MULT = 1_000_003  # combines per-token hashes into shingle hashes


@dataclass(frozen=True)
class Dialect:
    name: str

    # --- array primitives -------------------------------------------------
    def arr_len(self, a: str) -> str:
        return f"size({a})" if self.name == "spark" else f"len({a})"

    def slice(self, a: str, start: str, length: int | str) -> str:
        """``length`` elements of ``a`` from the 1-based ``start``."""
        if self.name == "spark":
            return f"slice({a}, {start}, {length})"
        return f"list_slice({a}, {start}, {start} + {length} - 1)"

    def arr_distinct(self, a: str) -> str:
        return f"array_distinct({a})" if self.name == "spark" else f"list_distinct({a})"

    def arr_min(self, a: str) -> str:
        return f"array_min({a})" if self.name == "spark" else f"list_min({a})"

    def arr_max(self, a: str) -> str:
        return f"array_max({a})" if self.name == "spark" else f"list_max({a})"

    def explode(self, a: str) -> str:
        """Generator in the SELECT list: one output row per element."""
        return f"explode({a})" if self.name == "spark" else f"unnest({a})"

    def arr_contains(self, a: str, e: str) -> str:
        return (f"array_contains({a}, {e})" if self.name == "spark"
                else f"list_contains({a}, {e})")

    def arr_lit(self, items: list[str]) -> str:
        """Array literal from pre-rendered SQL literal strings (typed
        empty string-array when the list is empty)."""
        if not items:
            return ("cast(array() as array<string>)" if self.name == "spark"
                    else "cast([] as varchar[])")
        if self.name == "spark":
            return "array(" + ", ".join(items) + ")"
        return "[" + ", ".join(items) + "]"

    def transform(self, a: str, var: str, body: str) -> str:
        if self.name == "spark":
            return f"transform({a}, {var} -> {body})"
        return f"list_transform({a}, {var} -> {body})"

    def filter_(self, a: str, var: str, body: str) -> str:
        if self.name == "spark":
            return f"filter({a}, {var} -> {body})"
        return f"list_filter({a}, {var} -> {body})"

    def fold(self, a: str, init: str, acc: str, var: str, body: str) -> str:
        """Left fold with explicit init — fixed evaluation order in both
        engines, which is what makes double sums cross-engine exact."""
        if self.name == "spark":
            return f"aggregate({a}, {init}, ({acc}, {var}) -> {body})"
        return f"list_reduce([{init}] || {a}, ({acc}, {var}) -> {body})"

    # --- text primitives --------------------------------------------------
    def tokens(self, c: str) -> str:
        """Lowercased alnum tokens (the BPE-ish regex token set)."""
        if self.name == "spark":
            return f"regexp_extract_all(lower({c}), '[a-z0-9]+', 0)"
        return f"regexp_extract_all(lower({c}), '[a-z0-9]+')"

    def chars(self, c: str) -> str:
        return f"split({c}, '')" if self.name == "spark" else f"string_split({c}, '')"

    def arr_join(self, a: str) -> str:
        """Join array elements into one space-separated string. DuckDB's
        array_to_string returns NULL for an EMPTY array where Spark's
        concat_ws returns '' — coalesce aligns the zero-token edge
        (all-non-alnum documents) across engines."""
        if self.name == "spark":
            return f"concat_ws(' ', {a})"
        return f"coalesce(array_to_string({a}, ' '), '')"

    def poly_hash(self, s: str) -> str:
        """Deterministic string hash: fold (acc*31 + ascii(ch)) % P over chars."""
        codes = self.transform(self.chars(s), "ch", "cast(ascii(ch) as bigint)")
        return self.fold(
            codes, f"cast({HASH_INIT} as bigint)", "a", "b",
            f"(a * {HASH_MULT} + b) % {P_MOD}")

    def shingles(self, toks: str, n: int) -> str:
        """Word n-gram shingle strings from a token array.

        Spark's ``sequence(1, 0)`` DESCENDS instead of returning empty,
        so the short-document case needs an explicit guard there.
        """
        if self.name == "spark":
            body = (f"transform(sequence(1, size({toks}) - {n} + 1), "
                    f"i -> concat_ws(' ', {self.slice(toks, 'i', n)}))")
            return (f"CASE WHEN size({toks}) < {n} "
                    f"THEN cast(array() as array<string>) ELSE {body} END")
        return (f"list_transform(range(1, greatest(len({toks}) - {n} + 2, 1)), "
                f"i -> array_to_string({self.slice(toks, 'i', n)}, ' '))")

    def shingle_hvs(self, toks: str, n: int) -> str:
        """Word n-gram shingle HASHES (array<bigint>) without building
        shingle strings: each token is char-folded once, then the n
        per-token hashes of a window combine arithmetically
        (``(acc * {SHINGLE_MULT} + h) % {P_MOD}``). Equivalent discrimination
        to ``poly_hash(shingles(...))`` at ~1/n the char-fold work and
        zero string concat/alloc — this is the hot-path form for wide
        shingles (contamination's 5-grams); values differ from the
        string form, so a query must use one or the other on BOTH
        sides."""
        th = self.transform(toks, "t", self.poly_hash("t"))
        comb = self.fold(self.slice("th", "i", n), f"cast({HASH_INIT} as bigint)", "a", "h",
                         f"(a * {SHINGLE_MULT} + h) % {P_MOD}")
        if self.name == "spark":
            body = f"transform(sequence(1, size(th) - {n} + 1), i -> {comb})"
            guarded = (f"CASE WHEN size(th) < {n} "
                       f"THEN cast(array() as array<bigint>) ELSE {body} END")
            # bind th once via a single-element transform (no LATERAL needed)
            return f"transform(array({th}), th -> {guarded})[0]"
        body = (f"list_transform(range(1, greatest(len(th) - {n} + 2, 1)), "
                f"i -> {comb})")
        return f"list_transform([{th}], th -> {body})[1]"

    def re_replace(self, c: str, pat: str, rep: str) -> str:
        """Replace ALL matches of ``pat`` — Spark's 3-arg form is
        global already; DuckDB needs the explicit 'g' flag.

        ``pat`` is the RAW regex (single backslashes). Spark's
        single-quoted SQL literals consume one level of backslash
        escaping ('\\d' becomes the regex `d`, silently matching the
        LETTER d) while DuckDB's do not — so the Spark branch doubles
        backslashes HERE instead of every caller hand-rolling it
        (review finding: three call sites each carried their own
        dialect-split doubling; the next caller passing a '\\d'-style
        pattern would have silently diverged cross-engine). ``rep`` is
        passed through verbatim (backreference syntax is
        dialect-split at the caller: Spark $1 vs DuckDB \\1)."""
        if self.name == "spark":
            return f"regexp_replace({c}, '{self.re_pat(pat)}', '{rep}')"
        return f"regexp_replace({c}, '{pat}', '{rep}', 'g')"

    def re_pat(self, pat: str) -> str:
        """A RAW regex made safe for this dialect's single-quoted SQL
        literal (Spark literals consume one level of backslashes;
        DuckDB's do not). The ONE copy of the escaping rule — used by
        re_replace and by callers that embed patterns in other regexp
        functions (regexp_extract_all etc.)."""
        return pat.replace("\\", "\\\\") if self.name == "spark" else pat

    def split(self, c: str, sep: str) -> str:
        """Split on a literal separator (Spark's split takes a regex —
        callers must pass regex-safe separators)."""
        if self.name == "spark":
            return f"split({c}, '{sep}')"
        return f"string_split({c}, '{sep}')"

    def idiv(self, a: str, b: str) -> str:
        """Integer division on bigints (both engines' ``/`` on integers
        yields double)."""
        return f"({a} div {b})" if self.name == "spark" else f"({a} // {b})"

    def struct_(self, *pairs: tuple[str, str]) -> str:
        """Inline struct literal from (field_name, expr) pairs."""
        if self.name == "spark":
            return ("named_struct(" +
                    ", ".join(f"'{n}', {e}" for n, e in pairs) + ")")
        return ("struct_pack(" +
                ", ".join(f"{n} := {e}" for n, e in pairs) + ")")

    def ordered_concat(self, val: str, order: str, sep: str = " ") -> str:
        """Order-deterministic string aggregation (GROUP BY context):
        concatenate ``val`` in ascending ``order``. DuckDB has ordered
        string_agg; Spark's collect_list is order-nondeterministic, so
        the Spark form sorts (order, val) structs first — array_sort on
        structs compares fields left-to-right, and ``order`` is unique
        per group wherever this is used, so both engines emit identical
        strings."""
        if self.name == "spark":
            pair = self.struct_(("o", order), ("v", val))
            return (f"array_join(transform(array_sort(collect_list({pair})), "
                    f"s -> s.v), '{sep}')")
        return f"string_agg({val}, '{sep}' ORDER BY {order})"

    def json_str(self, c: str, path: str) -> str:
        """Extract a JSON field as string (NULL on missing/invalid).
        ``path`` is a ``$.key`` JSONPath, identical in both engines."""
        if self.name == "spark":
            return f"get_json_object({c}, '{path}')"
        return f"json_extract_string({c}, '{path}')"

    # --- vector primitives ------------------------------------------------
    def dot(self, a: str, b: str) -> str:
        """Σ a[i]*b[i] as double, fixed fold order (cross-engine exact)."""
        if self.name == "spark":
            prods = f"zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double))"
        else:
            prods = (f"list_transform(range(1, len({a}) + 1), "
                     f"i -> cast({a}[i] as double) * cast({b}[i] as double))")
        return self.fold(prods, "cast(0 as double)", "s", "v", "s + v")

    def elem(self, a: str, idx1: str) -> str:
        """1-based element access."""
        if self.name == "spark":
            return f"element_at({a}, {idx1})"
        return f"{a}[{idx1}]"

    # --- bit primitives ---------------------------------------------------
    def bit(self, h: str, i: int) -> str:
        if self.name == "spark":
            return f"(shiftright({h}, {i}) & 1)"
        return f"(({h} >> {i}) & 1)"

    def byte(self, h: str, k: int) -> str:
        if self.name == "spark":
            return f"(shiftright({h}, {8 * k}) & 255)"
        return f"(({h} >> {8 * k}) & 255)"

    def bitslice(self, h: str, shift: int, mask: int) -> str:
        if self.name == "spark":
            return f"(shiftright({h}, {shift}) & {mask})"
        return f"(({h} >> {shift}) & {mask})"

    def arr_agg(self, c: str) -> str:
        """Group-aggregate values into an array (element ORDER is
        engine/partition-dependent — only use where downstream math is
        order-insensitive, e.g. intersection cardinality)."""
        if self.name == "spark":
            return f"collect_list({c})"
        return f"list({c})"

    def arr_agg_ordered(self, val: str, order: str) -> str:
        """Group-aggregate ``val`` into an array in ascending ``order``
        — the array twin of :meth:`ordered_concat` (``order`` must be
        unique per group). The deterministic form positional math
        (vector/matrix rows as arrays) needs where :meth:`arr_agg`'s
        engine-dependent order would scramble coordinates."""
        if self.name == "spark":
            pair = self.struct_(("o", order), ("v", val))
            return (f"transform(array_sort(collect_list({pair})), "
                    f"s -> s.v)")
        return f"list({val} ORDER BY {order})"

    def arr_intersect_size(self, a: str, b: str) -> str:
        """|A ∩ B| for arrays of DISTINCT elements (order-independent)."""
        if self.name == "spark":
            return f"size(array_intersect({a}, {b}))"
        return f"len(list_intersect({a}, {b}))"

    def xor(self, a: str, b: str) -> str:
        # DuckDB's ^ is exponentiation — its bitwise xor is the function form
        return f"({a} ^ {b})" if self.name == "spark" else f"xor({a}, {b})"

    def seq(self, a: str, b: str) -> str:
        """Inclusive integer sequence [a..b] (caller guarantees a <= b;
        Spark's sequence DESCENDS on a > b instead of returning empty)."""
        if self.name == "spark":
            return f"sequence({a}, {b})"
        return f"range({a}, ({b}) + 1)"

    def shl(self, a: str, n: str) -> str:
        """Bigint left shift (Spark's << is not SQL-exposed pre-4.0 and
        DuckDB has no shiftleft function)."""
        if self.name == "spark":
            return f"shiftleft({a}, cast({n} as int))"
        return f"({a} << ({n}))"

    def last_ignore_nulls(self, expr: str, over: str) -> str:
        """last_value(...) IGNORE NULLS OVER (...) — the engines place
        the IGNORE NULLS clause differently."""
        if self.name == "spark":
            return f"last_value({expr}) IGNORE NULLS OVER ({over})"
        return f"last_value({expr} IGNORE NULLS) OVER ({over})"

    def ident(self, name: str) -> str:
        """Quoted identifier (names may hold spaces, '-' and '/')."""
        if self.name == "spark":
            return "`" + name.replace("`", "``") + "`"
        return '"' + name.replace('"', '""') + '"'

    # --- time primitives --------------------------------------------------
    def ts_ymd_hms(self, s: str) -> str:
        """Presto ``date_parse(s, '%Y-%m-%d %T')`` as a zone-less
        timestamp (Spark TIMESTAMP_NTZ, DuckDB's naive TIMESTAMP)."""
        if self.name == "spark":
            return f"to_timestamp_ntz({s}, 'yyyy-MM-dd HH:mm:ss')"
        return f"strptime({s}, '%Y-%m-%d %H:%M:%S')"

    def epoch_us(self, ts: str) -> str:
        if self.name == "spark":
            return f"unix_micros(cast({ts} as timestamp))"
        return f"epoch_us({ts})"

    # --- binary primitives ------------------------------------------------
    def to_blob(self, s: str) -> str:
        return f"cast({s} as binary)" if self.name == "spark" else f"encode({s})"

    def cte_as(self) -> str:
        """CTE introducer: DuckDB gets an explicit MATERIALIZED hint
        (its optimizer may inline a CTE per reference, which turns an
        unrolled k-round chain with 2 refs/round into 2^k plan copies
        — measured 20s on a 3-row input at 8 rounds); Spark has no
        MATERIALIZED syntax (and inlines regardless — iterative chains
        run as DataFrame loops there)."""
        return "AS MATERIALIZED" if self.name == "duck" else "AS"

    def str_cast(self, c: str) -> str:
        return f"cast({c} as string)" if self.name == "spark" else f"CAST({c} AS varchar)"

    def check(self, cond: str, msg: str) -> str:
        """Loud in-plan guard: an expression that is NULL when ``cond``
        holds and RAISES ``msg`` when it does not — consume it as
        ``WHERE {check(...)} IS NULL`` on a bounded (dimension-sized)
        relation so the predicate costs nothing but still fires per
        run. This is how integer-headroom bounds documented in
        docstrings become enforced code (VERDICT r9 task 6): silent
        int64 wraparound would corrupt rankings; this fails the query
        instead, naming the production swap."""
        if self.name == "spark":
            return f"assert_true({cond}, '{msg}')"
        return f"(CASE WHEN {cond} THEN NULL ELSE error('{msg}') END)"


def id_hash_pct(d: Dialect, col: str = "doc_id", salt: str = "") -> str:
    """Deterministic 0-99 bucket from the polynomial hash of the id
    STRING — stable across engines, runs, and partitioning (never use
    engine-native hash() or rand() for split/sample assignment:
    resuming a pipeline must not reshuffle the decision). ``salt``
    derives an INDEPENDENT decision stream from the same id — pass a
    distinct salt whenever two hash-based decisions must not
    correlate (e.g. a per-domain cap rank vs the train/val/test
    split, where sharing the stream would bias capped survivors into
    one split)."""
    expr = d.str_cast(col)
    if salt:
        expr = f"('{salt}:' || {expr})"
    return f"({d.poly_hash(expr)} % 100)"


SPARK = Dialect("spark")
DUCK = Dialect("duck")

INT64_MAX = 9_223_372_036_854_775_807  # Dialect.check headroom bounds


def minhash_params(n_perm: int) -> list[tuple[int, int]]:
    """Fixed (a, b) parameters for the permutation hashes
    h_j(x) = (a_j * x + b_j) % P — odd multipliers, deterministic."""
    return [(2 * j + 3, 1009 * j + 7) for j in range(n_perm)]


def hyperplane_weight(j: str | int, d: str | int) -> str:
    """Pseudo-random-but-deterministic hyperplane component w(j, d) for
    sign-LSH, as pure int arithmetic expressible in both dialects.
    Range ≈ [-501001, 501001], mean ~0."""
    return (f"cast((((({j}) * 131 + 7) * 2654435761 + ({d}) * 97) % 1000003) "
            f"- 501001 as double)")


def hyperplane_weight_value(j: int, d: int) -> float:
    """Numeric twin of :func:`hyperplane_weight` for the vectorized
    kernels (functions/vectorized.py) — same integers, exact float64."""
    return float((((j * 131 + 7) * 2654435761 + d * 97) % 1000003) - 501001)
