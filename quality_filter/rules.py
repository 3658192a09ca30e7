"""Heuristic line/turn rules as pure Catalyst expressions.

This is the native re-expression of what the reference delegates to an
XLM-R sequence classifier (``src/classifier_inference_pipeline.py:37-124``):
each turn gets a ``label`` from the fixed 9-label taxonomy plus a
``clean_score`` = rule-based P(Clean) rounded to 3 decimals with banker's
rounding, matching ``round(score, 3)`` at
``src/classifier_inference_pipeline.py:88`` (Spark ``bround`` == Python
``round`` == HALF_EVEN).

Everything here is narrow Catalyst projections and filters — no UDFs,
fully whole-stage-codegen'd, and trivially parallel at any scale (no
shuffle).  Each rule, feature and score formula has one definition, in
``_rule_columns``, built once per process and shared by ``score_turns``
(every row labelled and scored) and ``clean_fastpath_scored`` (Clean rows
only).  Rule precedence is frozen (first match wins); the same order is
implemented by the Python golden oracle and the generated DuckDB oracle
SQL, so the three implementations are bit-identical.
"""

from __future__ import annotations

import functools
import operator
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quality_filter import patterns as P
from quality_filter.labels import LABELS

# (label, regex) in frozen precedence order; regex rules first, then the
# ratio-based "Formatting, Style & Errors" fallback, then Clean.
REGEX_RULES: list[tuple[str, str]] = [
    ("Contact & Identification Information",
     P.ci(f"({P.EMAIL}|{P.PHONE}|{P.CONTACT_MARKER})")),
    ("Technical Specifications & Metadata",
     P.ci(f"({P.HTML_TAG}|{P.TECH_MARKER})")),
    ("Legal & Administrative Content", P.ci(P.LEGAL)),
    ("Bibliographical & Citation References", P.ci(P.CITATION)),
    ("Navigation & Interface Elements",
     P.ci(f"({P.NAVIGATION}|{P.URL})")),
    ("Promotional & Spam Content", P.ci(P.SPAM)),
    ("Offensive or Inappropriate Content", P.ci(P.TOXIC)),
]

FORMATTING_LABEL = "Formatting, Style & Errors"

# Ratio thresholds for the formatting fallback rule.
SYMBOL_RATIO_MAX = 0.3
ALPHA_RATIO_MIN = 0.2
MIN_CHARS_FOR_ALPHA_RULE = 4

# clean_score formula weights (frozen; mirrored in oracle + DuckDB SQL).
W_ALPHA, W_LEN, W_SYM = 0.6, 0.3, 0.1
LEN_NORM = 120


# --- per-rule two-level screen ---------------------------------------------
# Every rule regex is gated behind its OWN sound necessary condition
# (lowercase substring probes + tiny anchored/char-class regexes), so a
# row that trips one rule's guard confirms against THAT rule's regex
# only — never a monolithic all-rules alternation.  The previous design
# (one combined screen → one combined ~60 µs/row confirm NFA) charged
# every screen-passing row the full alternation; per-rule gating cuts
# the confirm cost to the guard-hit slice of each rule (measured ~2×
# on the fast-path filter).  Soundness audit per guard: every top-level
# alternative of the rule's pattern either contains one of the guard
# literals after ASCII case folding (Java (?i) folds ASCII only, so
# lower(text).contains(lit) is implied by any case-insensitive literal
# match) or implies the guard's small regex, which runs on LOWERED text
# so the (?i) fold applies to it too (all-letter 32-hex, X-*: headers).
# Unsoundness would break oracle-parity + fuzz tests.
_GUARD_LITERALS: dict[str, list[str]] = {
    # EMAIL ⇒ '@'; PHONE ⇒ digit (small rx); CONTACT_MARKER alternatives
    # ('email us'/'e-mail us' ⇒ 'mail us')
    "Contact & Identification Information":
        ["@", "contact us", "call us", "tel:", "fax:", "mail us"],
    # HTML_TAG ⇒ '<'; ``` ⇒ '`'; [{};]{2,} ⇒ one of '{' '}' ';';
    # text/html|utf-8|charset=|http/1.x literals; hex32 ⇒ digit or the
    # all-letter run (small rx); ^(user-agent|…|x-*): ⇒ anchored small rx
    "Technical Specifications & Metadata":
        ["<", "`", "{", "}", ";", "text/html", "utf-8", "charset=", "http"],
    # '(c) 2024' ⇒ '(c)'; 'gdpr compliance' ⇒ 'gdpr'
    "Legal & Administrative Content":
        ["all rights reserved", "terms of service", "terms and conditions",
         "privacy policy", "cookie policy", "legal notice", "disclaimer",
         "gdpr", "(c)", "©"],
    # '[12]' ⇒ '['; 'doi:5' ⇒ 'doi:'; 'pp. 3'/'vol.4' ⇒ 'pp.'/'vol.'
    "Bibliographical & Citation References":
        ["et al.", "doi:", "[", "pp.", "vol.", "isbn ", "ibid."],
    # 'home ?page' et sim. need both spaced and joined forms; URL ⇒
    # 'http'/'www.'
    "Navigation & Interface Elements":
        ["home page", "homepage", "log in", "login", "sign up", "signup",
         "next page", "previous page", "click here", "main menu",
         "site map", "sitemap", "back to top", "skip to content",
         "read more", "search results", "breadcrumb", "navigation bar",
         "toggle menu", "http", "www."],
    "Promotional & Spam Content":
        ["buy now", "limited time offer", "discount code", "free shipping",
         "subscribe now", "casino", "jackpot", "winner winner",
         "claim your prize", "100% free", "act now",
         "best price guaranteed", "order today", "!!!"],
    # 'you (are|re) an idiot' ⇒ 'idiot'; 'total moron' ⇒ 'moron'
    "Offensive or Inappropriate Content":
        ["idiot", "moron", "stupid fool", "i hate you", "shut up forever",
         "worthless loser", "garbage person", "trash human"],
}
# Small per-rule regexes, run on LOWERED text so the rules' (?i) ASCII
# fold is honoured (the pre-r6 screen ran them case-sensitively on raw
# text — an uppercase 'X-FOO:' header or all-uppercase letter-only hex32
# could slip past the screen and mis-label as Clean).  r9: the [0-9]
# alternative is split out as a ``translate`` char-map digit test
# (_has_digit — exactly "a digit is present", several times cheaper than
# a per-row regex scan) and short-circuits BEFORE the residual regex,
# so only digit-free guard-miss rows ever pay it.
_GUARD_SMALL: dict[str, str | None] = {
    # [0-9] → _has_digit; no residual regex
    "Contact & Identification Information": None,
    "Technical Specifications & Metadata":
        r"(^(user-agent|content-type|accept-encoding|x-[a-z\-]+):"
        r"|\b[a-f]{32}\b)",
}
# rules whose guard includes the digit-presence test (the former [0-9])
_GUARD_DIGIT = frozenset(_GUARD_SMALL)


def _has_digit(lowered: Column) -> Column:
    return F.length(lowered) != F.length(
        F.translate(lowered, "0123456789", "")
    )




class _RuleColumns(NamedTuple):
    features: dict[str, Column]  # helper columns, dropped before returning
    label: Column                # frozen-precedence label cascade
    clean: Column                # label would be Clean (no label column needed)
    score: Column                # damped, rounded score; reads ``label``
    clean_score: Column          # rounded score of a row known to be Clean


@functools.cache
def _rule_columns(text_col: str) -> _RuleColumns:
    """Build every rule, feature and score expression once per process.

    The trees name columns only (no DataFrame or session inside), so one
    build serves every DataFrame and every later session; rebuilding them
    per call cost ~2,600 Py4J round trips of driver time per plan.

    The counts and the lowered text are materialized as real columns
    (``features``) rather than inlined at each use.  Each is then computed
    once per row, and downstream generated code stays under the JVM JIT's
    ~8 KB compile limit: one inlined label+score tree pushed into a Filter
    blows it and the whole stage silently runs interpreted (~3× slower;
    measured).  For ``_lowered`` the gain is larger: the ~60 guard ``contains``
    probes sit in short-circuit OR chains, where codegen's subexpression
    elimination does not fire, so an inline ``lower(text)`` re-lowered the
    string once per probe (~2× on the guard pass).
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(text)
    # Letters: length-diff of a regexp_replace over letter RUNS (one regex
    # iteration per run; regexp_count would materialize every match).
    # Digits/whitespace: ``translate`` char-map passes, identical to
    # counting the ASCII classes [0-9] / [ \t\r\n\x0B\f] the oracle uses.
    features = {
        "_n_chars": n_chars,
        "_n_letter": n_chars - F.length(F.regexp_replace(text, r"\p{L}+", "")),
        "_n_digit": n_chars - F.length(F.translate(text, "0123456789", "")),
        "_n_space": n_chars - F.length(F.translate(text, " \t\r\n\x0b\f", "")),
        "_lowered": F.lower(text),
    }

    n_chars, n_letter, n_digit, n_space, lowered = map(F.col, features)
    n_nonspace = n_chars - n_space
    n_symbol = n_chars - n_letter - n_digit - n_space
    alpha_ratio = n_letter.cast("double") / F.greatest(F.lit(1), n_nonspace)
    symbol_ratio = n_symbol.cast("double") / F.greatest(F.lit(1), n_chars)
    ratio_formatting = (
        (n_nonspace == 0)
        | (symbol_ratio > F.lit(SYMBOL_RATIO_MAX))
        | (
            (n_chars >= F.lit(MIN_CHARS_FOR_ALPHA_RULE))
            & (alpha_ratio < F.lit(ALPHA_RATIO_MIN))
        )
    )
    symbol_run = text.rlike(P.SYMBOL_RUN)

    # hit = the rule's sound cheap guard AND the rule's own regex
    hits = []
    for label, pattern in REGEX_RULES:
        probes = [lowered.contains(lit) for lit in _GUARD_LITERALS[label]]
        if label in _GUARD_DIGIT:
            probes.append(_has_digit(lowered))
        if _GUARD_SMALL.get(label) is not None:
            probes.append(lowered.rlike(_GUARD_SMALL[label]))
        hits.append((label, functools.reduce(operator.or_, probes) & text.rlike(pattern)))

    cascade = F.when(ratio_formatting | symbol_run, F.lit(FORMATTING_LABEL)).otherwise(
        F.lit(LABELS[0])
    )
    for label, hit in reversed(hits):
        cascade = F.when(hit, F.lit(label)).otherwise(cascade)
    defect = functools.reduce(operator.or_, [hit for _, hit in hits] + [symbol_run])

    # Non-Clean labels are damped by 0.4 so they land far below the salvage
    # threshold ``clean_score > 0.9`` (src/salvage_low_quality_data.py:185).
    # Operand order is frozen for IEEE-754 bit parity with the oracle and
    # the DuckDB SQL.
    raw = (
        F.lit(W_ALPHA) * alpha_ratio
        + F.lit(W_LEN)
        * (F.least(n_chars, F.lit(LEN_NORM)).cast("double") / F.lit(float(LEN_NORM)))
        + F.lit(W_SYM) * (F.lit(1.0) - symbol_ratio)
    )
    damped = F.when(F.col("label") == F.lit(LABELS[0]), raw).otherwise(F.lit(0.4) * raw)
    return _RuleColumns(
        features=features,
        label=cascade,
        clean=~defect & ~ratio_formatting,
        score=F.bround(damped, 3),
        clean_score=F.bround(raw, 3),
    )


def _with_features(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumns(_rule_columns(text_col).features)


def barrier_filter(df: DataFrame, keep: Column) -> DataFrame:
    """Filter that provably evaluates HERE — above whatever projections
    ``df`` carries — instead of being pushed to the scan.

    A bare nondeterministic barrier column does not survive: nothing
    references it, so ColumnPruning removes it before the pushdown
    check and PushDownPredicates then substitutes every computed column
    the predicate touches into a scan-level filter (re-evaluating them
    per row, and below any repartition — observed undoing both the
    fused clean lane and the scan spread, r9).  Folding the barrier
    into the predicate itself — ``keep OR (id < 0)``, vacuously false
    since monotonically_increasing_id() is non-negative — makes the
    filter nondeterministic (never pushed) and the column referenced
    (never pruned).  The OR short-circuits, so kept rows never evaluate
    the barrier term."""
    barred = df.withColumn("_qf_barrier", F.monotonically_increasing_id())
    return barred.filter(keep | (F.col("_qf_barrier") < 0)).drop("_qf_barrier")


def clean_fastpath_scored(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fused remove-all lane: keep only the rows ``score_turns`` would
    label Clean and score them, in one pass over the materialized
    feature/lowered columns.  Survivors are Clean by construction, so the
    label is a literal and no row pays the label cascade; the result
    equals ``score_turns(df).filter(label == "Clean")``.  The barrier
    (``barrier_filter``) blocks PushDownPredicates from substituting the
    materialized columns back into a scan-level filter."""
    rc = _rule_columns(text_col)
    kept = barrier_filter(_with_features(df, text_col), rc.clean)
    return kept.withColumns(
        {"label": F.lit(LABELS[0]), "clean_score": rc.clean_score}
    ).drop(*rc.features)


def score_turns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``label`` and ``clean_score`` to a transcript DataFrame.

    Three slim projections (features → label → score) — the Spark analog
    of the reference's classify-then-annotate step
    (``src/classifier_inference_pipeline.py:103-123``) with the model
    replaced by deterministic rules.  ``clean_score`` reads the ``label``
    column instead of re-inlining the cascade.
    """
    rc = _rule_columns(text_col)
    return (
        _with_features(df, text_col)
        .withColumn("label", rc.label)
        .withColumn("clean_score", rc.score)
        .drop(*rc.features)
    )
