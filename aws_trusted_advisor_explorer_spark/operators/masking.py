"""P9 PII masking as an oracle-gated query (SURVEY.md §2.3 P9 —
reference applies it log-plane only: extract-ta-data-lambda.py:29-54,
get-accounts-info-lambda.py:78-95; here it is also a first-class column
transform for landing masked datasets).

Mask semantics reproduced exactly:
- 12-digit account id -> 2nd digit + 'XXXXXXX' + last 4
- names/emails -> first 3 chars + '-MASKED-' + last 3

The dual query derives deterministic account identities from
``customer`` so both engines mask identical inputs. Backreference
syntax differs (Spark ``$1`` vs DuckDB ``\\1``) — dialect-split."""

from __future__ import annotations

from aws_trusted_advisor_explorer_spark.functions.dual import Dialect

# 12-digit account id: the 2nd digit and the last 4 survive the mask
ACCOUNT_ID_MASK_PATTERN = r"\d(\d)\d{6}(\d{4})"


def _mask_id(d: Dialect, col: str) -> str:
    """Reference semantics ``match.group()[1] + 'XXXXXXX' +
    match.group()[-4:]`` (extract-ta-data-lambda.py:29-54). Pattern
    escaping is Dialect.re_pat's (one copy of the rule); only the
    backreference syntax stays dialect-split here."""
    rep = "$1XXXXXXX$2" if d.name == "spark" else "\\1XXXXXXX\\2"
    return d.re_replace(col, ACCOUNT_ID_MASK_PATTERN, rep)


def _mask_text(col: str) -> str:
    """Reference semantics are Python slicing ``v[:3]+'-MASKED-'+v[-3:]``.
    ``substr(col, -3, 3)`` diverges across Spark/DuckDB/Python for
    strings shorter than 3 chars, so the suffix start is computed as
    ``greatest(length-2, 1)`` — identical in both dialects and equal to
    Python's ``v[-3:]`` for every length (for len<3 both yield the
    whole string)."""
    return (f"substr({col}, 1, 3) || '-MASKED-' || "
            f"substr({col}, greatest(length({col}) - 2, 1), 3)")


def pii_mask_accounts(d: Dialect) -> str:
    return f"""WITH a AS (
  SELECT c_custkey,
    '6100000000' || lpad(cast(c_custkey % 100 as string), 2, '0') AS accountid,
    'Account ' || cast(c_custkey % 5 as string) AS accountname,
    'acct' || cast(c_custkey % 5 as string) || '@example.com' AS accountemail
  FROM customer
)
SELECT c_custkey,
  {_mask_id(d, 'accountid')} AS accountid_masked,
  {_mask_text('accountname')} AS accountname_masked,
  {_mask_text('accountemail')} AS accountemail_masked
FROM a"""


# PII scrub patterns for free text (training-data redaction pass).
# RE2 (DuckDB) and Java regex (Spark) agree on this subset.
PHONE_PATTERN = r"\d{2}-\d{3}-\d{3}-\d{4}"
EMAIL_PATTERN = r"[a-z0-9.]+@[a-z0-9.-]+"


def _count_matches(d: Dialect, col: str, pat: str) -> str:
    """Match count via regexp_extract_all; the pattern escaping is
    Dialect.re_pat's (replace-all scrubbing itself is plain
    d.re_replace — this module's private copies of the escaping rule
    were removed when dual.py centralized it)."""
    if d.name == "spark":
        return f"size(regexp_extract_all({col}, '{d.re_pat(pat)}', 0))"
    return f"len(regexp_extract_all({col}, '{pat}'))"


def pii_scrub_text(d: Dialect) -> str:
    """PII scrub over free text (the training-data redaction pass the
    log-plane P9 masking generalizes to): phone numbers and email
    addresses are replaced with typed placeholders and counted per
    document. Input text is derived deterministically from ``customer``
    (name + a synthetic phone/email) so both engines scrub identical
    strings; every third row gets no phone, so per-row counts vary.
    Pure projection — whole-stage codegen, zero shuffle."""
    phone = ("CASE WHEN c_custkey % 3 = 0 THEN 'no phone on file' ELSE "
             "lpad(" + d.str_cast("c_custkey % 90 + 10") + ", 2, '0') || '-' || "
             "lpad(" + d.str_cast("c_custkey % 900 + 100") + ", 3, '0') || '-' || "
             "lpad(" + d.str_cast("(c_custkey * 7) % 900 + 100") + ", 3, '0') || '-' || "
             "lpad(" + d.str_cast("(c_custkey * 13) % 9000 + 1000") + ", 4, '0') END")
    text = ("'contact ' || c_name || ' at ' || (" + phone + ") || ' or acct' || "
            + d.str_cast("c_custkey % 50") + " || '@example.com'")
    scrubbed = d.re_replace(d.re_replace("text", PHONE_PATTERN, "[PHONE]"),
                            EMAIL_PATTERN, "[EMAIL]")
    return f"""WITH t AS (
  SELECT c_custkey, {text} AS text FROM customer
)
SELECT c_custkey,
  {scrubbed} AS text_scrubbed,
  cast({_count_matches(d, 'text', PHONE_PATTERN)} as bigint) AS n_phones,
  cast({_count_matches(d, 'text', EMAIL_PATTERN)} as bigint) AS n_emails
FROM t"""


# k-anonymity threshold for released group statistics
KANON_K = 5


def docs_kanon_release(d: Dialect) -> str:
    """k-anonymity suppression for released group statistics (the
    data-release counterpart of the PII scrub): per-(lang, source)
    document counts are published only when the group holds at least
    {KANON_K} docs; smaller groups are suppressed — the row ships with
    a NULL count so the release can't reveal a quasi-identifier
    combination that isolates fewer than k individuals. The exact
    suppressed-group tally itself is aggregate-safe and is reported.

    Scale posture: one map-side-combining groupBy over two
    low-cardinality quasi-identifier columns; output is
    dimension-sized. Pure aggregation, no text movement."""
    return f"""WITH g AS (
  SELECT lang, source, cast(count(*) as bigint) AS n_docs
  FROM documents GROUP BY lang, source
)
SELECT lang, source,
  CASE WHEN n_docs >= {KANON_K} THEN n_docs ELSE NULL END AS n_docs_released,
  cast(CASE WHEN n_docs >= {KANON_K} THEN 0 ELSE 1 END as bigint)
    AS suppressed
FROM g"""


BUILDERS = {
    "pii_mask_accounts": pii_mask_accounts,
    "pii_scrub_text": pii_scrub_text,
    "docs_kanon_release": docs_kanon_release,
}
