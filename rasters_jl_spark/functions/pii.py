"""PII detection & redaction — the scrubbing stage of a training-data
pipeline (emails / IPv4 addresses / phone numbers → typed placeholder
tokens). Reference scope: Rasters.jl has no text surface; this is
north-rule training-pipeline coverage alongside dedup/decontamination.

Engineering shape: pure codegen regexp expressions (regexp_count +
chained regexp_replace) — per-row compute, zero shuffle, no Python in
the row path. Patterns are deliberately restricted to the syntax subset
shared by Java regex (Spark) and RE2 (DuckDB): character classes, bounded
repetition, \\b word boundaries — no lookbehind, no backreferences — so
the SAME pattern text drives both engines and the oracle is exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (name, pattern, placeholder) — applied in order; earlier redactions
# cannot create later matches (placeholders contain no digits or '@')
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    # international +<7-15 digits> or NANP-style ddd-ddd-dddd
    ("phone", r"\+\d{7,15}\b|\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
)


def redact_pii(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """All input columns with ``text_col`` redacted, plus per-type match
    counts (n_email, n_ip, n_phone). Each count is taken on the text AS
    THE SEQUENTIAL REDACTION SEES IT (after the previous patterns'
    replacements) — counting every pattern on the original text would
    report matches an earlier redaction already consumed (e.g. a
    dotted-digit local part inside an address counted as an IP that no
    [IP] placeholder ever replaced), overstating per-type scrub volume."""
    counts = []
    cur = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    others = [c for c in docs.columns if c != text_col]
    return docs.select(*[F.col(c) for c in others], *counts, cur.alias(text_col))


# --- Luhn-validated card redaction tier ------------------------------------
# A bare 12-19-digit regex over web text redacts order ids, EANs and
# timestamps wholesale; real scrubbers gate candidates on the Luhn
# checksum (ISO/IEC 7812). The checksum is a pure integer fold, so the
# whole tier stays codegen (regexp_extract_all + aggregate + literal
# replace) and is exactly SQL-recomputable — no FP, no Python.

RE_CARD = r"\b\d(?:[ -]?\d){11,18}\b"  # 12-19 digits, single space/dash seps
CARD_PLACEHOLDER = "[CARD]"


def _luhn_ok_col(cand: Column) -> Column:
    """True iff the candidate's digit string is 13-19 digits and passes
    Luhn: from the right, double every second digit (subtracting 9 when
    the double exceeds 9) and require the sum ≡ 0 (mod 10)."""
    ds = F.regexp_replace(cand, r"[^0-9]", "")
    n = F.length(ds)

    def term(i: Column) -> Column:
        d = F.substr(ds, i, F.lit(1)).cast("int")
        dbl = d * F.lit(2)
        adj = dbl - F.when(dbl > F.lit(9), F.lit(9)).otherwise(F.lit(0))
        return F.when((n - i) % F.lit(2) == F.lit(1), adj).otherwise(d)

    s = F.aggregate(
        F.sequence(F.lit(1), n), F.lit(0), lambda acc, i: acc + term(i)
    )
    return (n >= F.lit(13)) & (n <= F.lit(19)) & (s % F.lit(10) == F.lit(0))


def redact_cards(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """All input columns plus ``n_card`` (Luhn-valid card occurrences) with
    every valid card replaced by [CARD] in ``text_col``. Invalid
    near-cards (checksum failures) are left untouched.

    Known limitation: the rewrite is a plain substring replace of each
    validated candidate, so a valid PAN that ALSO appears embedded inside
    a longer digit run (which the word-boundary-anchored candidate regex
    never matched) is redacted there too, and ``n_card`` counts matched
    candidates, not performed replacements — in that corner the two can
    disagree. The DuckDB oracle mirrors the same semantics."""
    cands = F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(RE_CARD), F.lit(0)
    )
    valid = F.filter(cands, _luhn_ok_col)
    red = F.aggregate(
        valid,
        F.coalesce(F.col(text_col), F.lit("")),
        lambda acc, c: F.replace(acc, c, F.lit(CARD_PLACEHOLDER)),
    )
    others = [c for c in docs.columns if c != text_col]
    return docs.select(
        *[F.col(c) for c in others],
        F.size(valid).alias("n_card"),
        red.alias(text_col),
    )


def cards_sql(text_expr: str) -> dict[str, str]:
    """DuckDB twins {n_card, text} mirroring :func:`redact_cards` — same
    pattern, same fold arithmetic (list lambdas; list_reduce seeded by
    prepending the text as the init element)."""
    cands = f"regexp_extract_all(COALESCE({text_expr}, ''), '{RE_CARD}', 0)"
    ds = "regexp_replace(c, '[^0-9]', '', 'g')"
    term = (
        f"CASE WHEN (len({ds}) - i) % 2 = 1 "
        f"THEN (2 * CAST(substr({ds}, i, 1) AS INT)) - "
        f"(CASE WHEN 2 * CAST(substr({ds}, i, 1) AS INT) > 9 THEN 9 ELSE 0 END) "
        f"ELSE CAST(substr({ds}, i, 1) AS INT) END"
    )
    ok = (
        f"len({ds}) BETWEEN 13 AND 19 AND "
        f"CAST(list_sum(list_transform(generate_series(1, len({ds})), i -> {term})) AS BIGINT) % 10 = 0"
    )
    valid = f"list_filter({cands}, c -> {ok})"
    return {
        "n_card": f"CAST(len({valid}) AS INT)",
        "text": (
            f"list_reduce(list_prepend(COALESCE({text_expr}, ''), {valid}), "
            f"(acc, c) -> replace(acc, c, '{CARD_PLACEHOLDER}'))"
        ),
    }
