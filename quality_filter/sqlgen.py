"""DuckDB oracle-SQL generation for the driver's correctness gate.

Generates ANSI/DuckDB SQL that mirrors the engine's Catalyst expressions
*from the same frozen constants* (quality_filter.patterns /
quality_filter.rules), so the Spark implementation and its oracle cannot
drift.  Pattern dialect notes in patterns.py (common Java/RE2/Python
subset); float expressions repeat the exact operand order of rules.py for
IEEE-754 bit parity; rounding is DuckDB ``round_even`` == Spark ``bround``
(both round the shortest-decimal repr half-to-even).
"""

from __future__ import annotations

from quality_filter import patterns as P
from quality_filter.labels import LABELS
from quality_filter.rules import (
    ALPHA_RATIO_MIN,
    FORMATTING_LABEL,
    LEN_NORM,
    MIN_CHARS_FOR_ALPHA_RULE,
    REGEX_RULES,
    SYMBOL_RATIO_MAX,
    W_ALPHA,
    W_LEN,
    W_SYM,
)

WORDS_PER_TURN = 8


def rx_count(expr: str, pattern: str) -> str:
    return f"len(regexp_extract_all({expr}, '{pattern}'))"


def _features(t: str) -> dict[str, str]:
    n_chars = f"length({t})"
    n_letter = rx_count(t, r"\p{L}")
    n_digit = rx_count(t, "[0-9]")
    n_space = rx_count(t, P.WS_CLASS)
    n_nonspace = f"({n_chars} - {n_space})"
    n_symbol = f"((({n_chars} - {n_letter}) - {n_digit}) - {n_space})"
    return {
        "n_chars": n_chars,
        "n_nonspace": n_nonspace,
        "alpha_ratio": f"(CAST({n_letter} AS DOUBLE) / CAST(greatest(1, {n_nonspace}) AS DOUBLE))",
        "symbol_ratio": f"(CAST({n_symbol} AS DOUBLE) / CAST(greatest(1, {n_chars}) AS DOUBLE))",
    }


def label_sql(t: str) -> str:
    """CASE expression assigning the rule label to text expression ``t``
    (mirror of the label cascade in rules.score_turns)."""
    f = _features(t)
    branches = "".join(
        f"WHEN regexp_matches({t}, '{pat}') THEN '{label.replace(chr(39), chr(39)*2)}' "
        for label, pat in REGEX_RULES
    )
    formatting = (
        f"({f['n_nonspace']} = 0 OR regexp_matches({t}, '{P.SYMBOL_RUN}') "
        f"OR {f['symbol_ratio']} > {SYMBOL_RATIO_MAX} "
        f"OR ({f['n_chars']} >= {MIN_CHARS_FOR_ALPHA_RULE} AND {f['alpha_ratio']} < {ALPHA_RATIO_MIN}))"
    )
    return (
        f"(CASE {branches}"
        f"WHEN {formatting} THEN '{FORMATTING_LABEL}' "
        f"ELSE '{LABELS[0]}' END)"
    )


def bround_sql(x: str, digits: int = 3) -> str:
    """Spark ``bround(x, digits)`` emulation: HALF_EVEN on the *shortest
    decimal repr* of the double (DuckDB's own ``round_even`` rounds the raw
    binary value and even misrounds decimal ties, e.g. 0.7525 → 0.753).
    Double → VARCHAR gives the shortest round-trip repr; DECIMAL(38,18)
    holds it exactly; the CASE applies banker's rounding by hand.
    Fuzz-verified bit-identical to Spark over 4k values including dense
    ties at 3 digits, and over tie-dense 9-digit values (every oracle that
    rounds a parallel float AVG must use this, not DuckDB ``round`` —
    the two disagree on decimal ties).

    The decimal scale is ``digits + 19``: a shortest double repr carries
    ≤ 17 significant digits, and any value near a digit-``digits`` tie
    has its leading digit no deeper than position ``digits + 1``, so its
    FULL repr fits in ``digits + 18`` fractional digits (+1 margin).  A
    fixed scale of 18 silently rounded e.g. 4.500000000000001e-09 to the
    exact 9-digit tie and broke the HALF_EVEN/round-up distinction.
    Domain: |x| < 10^(19 - 2·digits) (decimal width 38); quality scores
    and macro averages live in [0, 1]."""
    assert 0 <= digits <= 9, "bround_sql supports 0-9 digits"
    scale = 10 ** digits
    frac = digits + 19
    d = f"CAST(CAST({x} AS VARCHAR) AS DECIMAL(38,{frac}))"
    s = f"({d} * {scale})"
    fl = f"floor({s})"
    fr = f"({s} - floor({s}))"
    r = (
        f"(CASE WHEN {fr} > 0.5 THEN {fl} + 1 "
        f"WHEN {fr} < 0.5 THEN {fl} "
        f"WHEN CAST({fl} AS BIGINT) % 2 = 0 THEN {fl} ELSE {fl} + 1 END)"
    )
    return f"(CAST({r} AS DOUBLE) / {scale}.0)"


def bround3_sql(x: str) -> str:
    """Spark ``bround(x, 3)`` emulation (see ``bround_sql``)."""
    return bround_sql(x, 3)


def raw_score_sql(t: str) -> str:
    """The unrounded score formula — identical operand order to
    the score in rules.score_turns for IEEE-754 bit parity."""
    f = _features(t)
    return (
        f"({W_ALPHA} * {f['alpha_ratio']} "
        f"+ {W_LEN} * (CAST(least({f['n_chars']}, {LEN_NORM}) AS DOUBLE) / {float(LEN_NORM)}) "
        f"+ {W_SYM} * (1.0 - {f['symbol_ratio']}))"
    )


def clean_score_sql(t: str, label_expr: str) -> str:
    """Mirror of rules.score_turns' clean_score (damped non-Clean, banker's-rounded
    to 3 decimals with Spark semantics)."""
    raw = raw_score_sql(t)
    damped = (
        f"(CASE WHEN {label_expr} = '{LABELS[0]}' THEN {raw} ELSE 0.4 * {raw} END)"
    )
    return bround3_sql(damped)


def scrub_sql(t: str) -> str:
    """Mirror of scrub.scrub_expr — same chain, same order, global flag."""
    out = t
    for pattern, replacement in P.SCRUB_CHAIN:
        out = f"regexp_replace({out}, '{pattern}', '{replacement}', 'g')"
    return out


# ---------------------------------------------------------------------------
# derived transcript view over the driver's `documents` table: each doc is
# chunked into 8-word turns — same derivation on both engines.
# ---------------------------------------------------------------------------

TURNS_CTE = f"""
__w AS (SELECT doc_id, lang AS doc_lang, string_split(text, ' ') AS w FROM documents),
__c AS (SELECT doc_id, doc_lang,
        list_transform(range(0, CAST(ceil(len(w)/{float(WORDS_PER_TURN)}) AS BIGINT)),
          i -> struct_pack(turn_idx := CAST(i AS INT),
                           txt := array_to_string(w[(i*{WORDS_PER_TURN}+1):(i*{WORDS_PER_TURN}+{WORDS_PER_TURN})], ' '))) AS chunks
        FROM __w),
turns AS (SELECT CAST(doc_id AS VARCHAR) AS conv_id, doc_id, doc_lang,
                 unnest(chunks).turn_idx AS turn_idx, unnest(chunks).txt AS text
          FROM __c)
"""

# Arithmetic (engine-agnostic) synthetic label/score/lang for the
# filter/trim/salvage oracle queries: pure integer mixing, identical in
# Spark and DuckDB, no floats until one final division.
N_SYNTH_LABELS = 14
SYNTH_CLEAN_BELOW = 6


def synth_label_sql() -> str:
    arr = ", ".join(f"'{l}'" for l in LABELS[1:])
    return (
        f"(CASE WHEN (doc_id*31 + turn_idx*7) % {N_SYNTH_LABELS} < {SYNTH_CLEAN_BELOW} "
        f"THEN 'Clean' ELSE [{arr}][CAST((doc_id*31 + turn_idx*7) % {N_SYNTH_LABELS} - {SYNTH_CLEAN_BELOW} AS INT) % 8 + 1] END)"
    )


def synth_score_k_sql() -> str:
    return f"((doc_id*131 + turn_idx*17) % 1001)"


SYNTH_LANGS = ["en", "de", "zh", "fr", "es"]


def synth_turn_lang_sql() -> str:
    arr = ", ".join(f"'{l}'" for l in SYNTH_LANGS)
    return f"([{arr}][CAST((doc_id + turn_idx*3) % 5 AS INT) + 1])"
