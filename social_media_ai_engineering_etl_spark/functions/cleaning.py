"""Native cleaning / normalization expressions (reference stages
07/12/15 cleaners, 09 tone normalize, 18/23 label normalizers).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# stage 07/12/15: JSON unwrap + disallowed filter
# ---------------------------------------------------------------------------

DISALLOWED_SUBSTRINGS = ("...", "?", "_", "{", "}", "[", "]", "<", ">")
CJK_PATTERN = "[\\x{4e00}-\\x{9fff}]"

# Python str.split() splits on UNICODE whitespace (isspace(): the
# White_Space property PLUS the bidi controls \x1c-\x1f); Java's plain
# \s is ASCII-only, so an NBSP-joined 'reflective\xa0and' would refuse
# to split and the structure matcher would diverge from the reference
# (found by the r6 NBSP differential probe). (?U) upgrades \s to
# White_Space; the explicit \x1c-\x1f closes the isspace gap.
PY_WS_SPLIT = r"(?U)[\s\x1c-\x1f]+"
# the RE2 (DuckDB) transcription of the same set.  RE2's \s is only
# [\t\n\f\r ] and \p{Z} excludes control-class whitespace, so U+000B
# (vertical tab — Python isspace() true) must be listed explicitly
# (r6 ADVICE; verified live: without it string_split_regex keeps
# 'a\x0bb' whole while 'a\x0bb'.split() splits).
PY_WS_SPLIT_RE2 = r"[\s\x{0B}\p{Z}\x{85}\x{1C}-\x{1F}]+"


def py_strip(col: Column) -> Column:
    """Python str.strip() semantics.  Spark's (and DuckDB's) trim()
    strips ONLY ASCII spaces — '\\tunknown\\n'.strip() == 'unknown'
    in the reference, but trim() leaves it intact, so the 'unknown'
    cleaners would keep a row the reference drops (r6 differential
    probe).  Strip the full Python whitespace set on both edges."""
    out = F.regexp_replace(col, r"(?U)^[\s\x1c-\x1f]+", "")
    return F.regexp_replace(out, r"(?U)[\s\x1c-\x1f]+$", "")


# DuckDB transcription of py_strip for oracle SQL (format with {x})
PY_STRIP_SQL = ("regexp_replace(regexp_replace({x}, "
                "'^[\\s\\x{{0B}}\\p{{Z}}\\x{{85}}\\x{{1C}}-\\x{{1F}}]+', ''), "
                "'[\\s\\x{{0B}}\\p{{Z}}\\x{{85}}\\x{{1C}}-\\x{{1F}}]+$', '')")

# ---------------------------------------------------------------------------
# Python str.isalpha()/re-class fidelity across three Unicode versions
# (r7 fuzz catch: U+9FFF is a letter in CPython 3.11 = Unicode 14 but
# UNASSIGNED in Java 17 = Unicode 13, so a \p{L} vocabulary filter
# dropped a word the reference counted and the stage-18 vocabulary
# bucket shifted).  The skew classes are MEASURED, not hand-derived:
# scripts/unicode_skew.py sweeps every codepoint through all three
# engines and generates functions/_unicode_py_classes.py; the same
# sweep proves the whitespace classes above need NO correction.
# ---------------------------------------------------------------------------

from ._unicode_py_classes import (  # noqa: E402  (generated, measured)
    JAVA_ALPHA_EXTRA as _JAVA_ALPHA_EXTRA,
    RE2_ALPHA_EXCESS as _RE2_ALPHA_EXCESS,
    PY_ALPHA_CHAR,
    PY_ALPHA_CHAR_RE2,
    PY_DIGIT_CHAR,
    PY_NONWORDSPACE_CHAR,
)


_UNWRAP_UDFS: dict = {}


def _py_json_unwrap(key: str):
    """Arrow-vectorized CPython-exact unwrap (one cached UDF per
    key).  The r7 fuzz program showed the JVM JSON parsers cannot
    reproduce json.loads' whole-document contract: Jackson
    (get_json_object / from_json) stops at the first complete value
    and silently unwraps '{"topic": "x"}\\xa0' / '{...} note' /
    concatenated documents that json.loads rejects ('Extra data'),
    and get_json_object additionally resolves duplicate keys
    FIRST-wins (dict is last-wins) and accepts single-quoted
    pseudo-JSON.  'Did the parser consume the whole string' is not
    natively expressible, so this is the sanctioned vectorized-Arrow
    fallback — with a pandas fast-path mask so only '{'-leading
    candidates (after json.loads' own ' \\t\\n\\r' lstrip) pay the
    parse; everything else passes through inside the batch."""
    if key in _UNWRAP_UDFS:
        return _UNWRAP_UDFS[key]

    def _batch(s: pd.Series) -> pd.Series:
        def one(v):
            try:
                p = json.loads(v)
                if isinstance(p, dict) and key in p:
                    x = p[key]
                    # non-string value: the reference CRASHES with a
                    # TypeError in contains_disallowed (documented
                    # deviation) — the engine passes the raw string
                    # through instead of dying
                    return x if isinstance(x, str) else v
            except (json.JSONDecodeError, TypeError):
                pass
            return v

        mask = s.notna() & s.str.lstrip(" \t\n\r").str.startswith("{")
        out = s.copy()
        out[mask] = s[mask].map(one)
        return out

    # non-deterministic marking = optimizer fence (r8, optimization
    # guide §4.4): clean_field filters on the unwrapped column, and
    # Catalyst pushed that filter below by DUPLICATING the UDF — two
    # ArrowEvalPython nodes, every row parsed twice (plan-verified on
    # q07_clean_topics).  The function is pure; the marking only
    # stops re-evaluation/reordering.
    fn = F.pandas_udf(_batch, "string").asNondeterministic()
    _UNWRAP_UDFS[key] = fn
    return fn


def unwrap_json_field(col: Column, key: str) -> Column:
    """If the value is a JSON object string with ``key``, take that
    value; else passthrough (7-clean-topics.py:45-57) — exactly
    CPython json.loads semantics (see :func:`_py_json_unwrap`:
    whole-document consumption, last-wins duplicate keys, no
    single-quote lenience; battery-pinned in
    tests/test_null_semantics.py and fuzz-pinned in
    tests/test_reference_differential.py)."""
    return _py_json_unwrap(key)(col)


def is_disallowed(col: Column) -> Column:
    """P8: True when the value contains any disallowed substring,
    any CJK character, or trims/lowers to 'unknown'
    (7-clean-topics.py:18-43 — the TOPIC cleaner; stages 12/15 check
    fewer things, see :func:`is_disallowed_opinion` /
    :func:`is_disallowed_context_effective`).

    Stage 15's intended check adds term filters; its shipped version
    has a truthiness bug (only "650+" of the three terms is tested —
    SURVEY Q4). The engine's default cleaners use these stage-07
    semantics as the strictest intended filter.
    """
    cond = F.lit(False)
    for sub in DISALLOWED_SUBSTRINGS:
        cond = cond | col.contains(F.lit(sub))
    cond = cond | col.rlike(CJK_PATTERN)
    cond = cond | (F.lower(py_strip(col)) == "unknown")
    return cond


def clean_field(df, field: str, key: str):
    """Full cleaner stage: unwrap JSON then drop disallowed rows."""
    out = df.withColumn(field, unwrap_json_field(F.col(field), key))
    return out.filter(~is_disallowed(F.col(field)))


# ---------------------------------------------------------------------------
# stage 09: tone list normalize (9-extract-tone.py:150-169)
# ---------------------------------------------------------------------------


def normalize_tone_list(tones: Column, max_tones: int = 3,
                        fallback: str = "Unknown") -> Column:
    """Lowercase+trim each entry, dedupe preserving first occurrence,
    cap at ``max_tones``, join with ', '; empty -> fallback.

    ``array_distinct`` preserves first-occurrence order in Spark,
    matching the reference's seen-set loop.
    """
    norm = F.transform(tones, lambda x: F.lower(py_strip(x)))
    capped = F.slice(F.array_distinct(norm), 1, max_tones)
    joined = F.array_join(capped, ", ")
    return F.when(F.size(capped) > 0, joined).otherwise(F.lit(fallback))


# ---------------------------------------------------------------------------
# stage 18/23: label normalizers + prompt-type classifier
# ---------------------------------------------------------------------------

# The reference's single structure domain, shared by stage 18's
# find_first_matching_term (18-generate-prompts.py:366-371) and stage
# 23's extract_structure_from_chosen (23-split.py:139-142).  (Until r6
# the engine carried an invented 'educational/promotional/...' list
# that exists nowhere in the reference — caught while building the
# reference differential test.)
STRUCTURE_LABELS = (
    "instructional", "inspirational", "controversial",
    "insightful", "comparative", "reflective", "announcement",
)
DEFAULT_STRUCTURE = "instructional"


def normalize_structure(text: Column,
                        labels: tuple[str, ...] = STRUCTURE_LABELS,
                        default: str = DEFAULT_STRUCTURE) -> Column:
    """P12 — stage 18's find_first_matching_term
    (18-generate-prompts.py:361-374, 437-443): split the text on
    whitespace, return the FIRST WORD (in text order) that is exactly
    a known label, else the default.  Word-split, not substring:
    'comparatively' must NOT match 'comparative', and for
    'reflective and inspirational' the first word in TEXT order wins
    (not the first label in list order) — both divergences pinned
    against the reference binary in
    tests/test_reference_differential.py."""
    words = F.split(F.lower(text), PY_WS_SPLIT)
    matches = F.filter(words, lambda w: w.isin(*labels))
    # try_element_at: empty match array -> NULL -> default (plain
    # element_at throws under ANSI mode on Spark 4)
    return F.coalesce(F.try_element_at(matches, F.lit(1)), F.lit(default))


PROMPT_TYPE_RULES = (
    ("identify its primary topic", "topic"),
    ("extract the core opinion", "opinion"),
    ("identify up to three primary tones", "tone"),
    ("classify the structural format", "structure"),
)


def classify_prompt_type(prompt: Column) -> Column:
    """Substring rules -> prompt type, first match wins; 'unknown' for
    null/empty; else 'other' (23-split.py:56-73). The post-generation
    rule needs BOTH '# request' and 'create a linkedin post'."""
    def build(p: Column) -> Column:
        lowered = F.lower(p)
        expr = F.when(lowered.contains("# request")
                      & lowered.contains("create a linkedin post"),
                      F.lit("post-generation")).otherwise(F.lit("other"))
        for needle, label in reversed(PROMPT_TYPE_RULES):
            expr = F.when(lowered.contains(F.lit(needle)),
                          F.lit(label)).otherwise(expr)
        return F.when(p.isNull() | (p == ""), F.lit("unknown")).otherwise(expr)

    # constant per referenced column name: cache the common
    # F.col("...") form (r8 — ~80 py4j round-trips per build)
    from ..session import cached_exprs
    try:
        name = prompt._jc.toString()
    except Exception:
        name = None
    if name is not None and name.isidentifier():
        return cached_exprs(("prompt_type", name),
                            lambda: build(F.col(name)))
    return build(prompt)


def normalize_surrogates_udf():
    """P4 (2-label.py:91-96): UTF-16 surrogate-pass normalization —
    re-encodes through UTF-16 with surrogatepass so lone/paired
    surrogates survive round-trips. No native Spark equivalent
    (SURVEY P4: UDF); Arrow-batched pandas UDF, not per-row Python.
    """
    from pyspark.sql.functions import pandas_udf

    # no type hints: the module's postponed annotations would turn
    # them into strings pandas_udf cannot resolve
    @pandas_udf("string")
    def _normalize(s):
        def fix(t):
            if t is None:
                return None
            try:
                return t.encode("utf-16", "surrogatepass").decode("utf-16")
            except UnicodeDecodeError:
                return t
        return s.map(fix)

    return _normalize


def validate_records(df, required: tuple[str, ...] = (),
                     non_empty: tuple[str, ...] = (),
                     domains: dict[str, tuple[str, ...]] | None = None):
    """P18 (utils/validation.py:32-100): record-validation gate as ONE
    single-pass aggregation.

    The reference instantiates a Pydantic model per record and counts
    failures; here every rule becomes a conditional-count expression
    in one ``agg`` (map-side combinable, one job, no per-row Python),
    then the 1-row wide result unpivots to (rule, violations) rows
    via an exploded map — violation reporting at 100 TB costs one
    scan.

      * required  — column must be non-null;
      * non_empty — column must be non-null and not '' after trim;
      * domains   — column value must be in the allowed enum (nulls
        counted by ``required`` if listed there, not double-counted
        here).
    """
    aggs = []
    for c in required:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                    .alias(f"required_{c}"))
    for c in non_empty:
        aggs.append(F.sum(F.when(F.col(c).isNull()
                                 | (F.trim(F.col(c)) == ""), 1).otherwise(0))
                    .alias(f"non_empty_{c}"))
    for c, allowed in (domains or {}).items():
        aggs.append(F.sum(F.when(F.col(c).isNotNull()
                                 & ~F.col(c).isin(*allowed), 1).otherwise(0))
                    .alias(f"domain_{c}"))
    wide = df.agg(*aggs)
    pairs = []
    for c in wide.columns:
        # sum() over an empty input is NULL; a validation gate must
        # read a vacuously-clean table as 0 violations, not unknown
        pairs.extend([F.lit(c),
                      F.coalesce(F.col(c).cast("long"), F.lit(0))])
    return (wide.select(F.explode(F.create_map(*pairs))
                        .alias("rule", "violations"))
            .orderBy("rule"))


def structure_from_chosen(chosen: Column,
                          labels: tuple[str, ...] = STRUCTURE_LABELS,
                          default: str = "other") -> Column:
    """P15 (23-split.py:133-156): structure recovered from the chosen
    completion — exact label match first, then substring containment
    in CATEGORY-LIST order, else 'other' (the reference returns the
    string 'other', not None — r6 fix, was NULL). Differs from P12's
    prompt-side normalize (word-split, text order) in its
    substring/list-order semantics.

    Falsy-input branch (r6 ADVICE): the reference's ``if not chosen:
    return None`` fires on None or the EXACTLY-empty string, before
    any strip — so NULL/'' map to NULL while a whitespace-only chosen
    survives the guard, strips to '', matches nothing and lands on
    'other'."""
    lowered = F.lower(py_strip(chosen))
    expr = F.lit(default)
    for label in reversed(labels):
        expr = F.when(lowered.contains(F.lit(label)),
                      F.lit(label)).otherwise(expr)
    for label in reversed(labels):
        expr = F.when(lowered == label, F.lit(label)).otherwise(expr)
    return F.when(chosen.isNull() | (chosen == F.lit("")),
                  F.lit(None).cast("string")).otherwise(expr)


# stage-23 inverse of the stage-18 base command (23-split.py:168-196):
# description substring (searched in the LOWERED prompt) -> structure
POST_GEN_STRUCTURE_MAP = (
    ("shares a step-by-step guide", "instructional"),
    ("reflects on an experience", "reflective"),
    ("inspires and motivates", "inspirational"),
    ("challenges popular opinions", "controversial"),
    ("offers keen observations", "insightful"),
    ("compares two or more items", "comparative"),
    ("announces something new", "announcement"),
)


def structure_from_post_gen_prompt(prompt: Column) -> Column:
    """Recover the structure label from a post-generation prompt's
    base command, first mapping entry whose description appears in
    the lowered prompt; NULL when none (23-split.py:168-196)."""
    lowered = F.lower(prompt)
    expr = F.lit(None).cast("string")
    for desc, label in reversed(POST_GEN_STRUCTURE_MAP):
        expr = F.when(lowered.contains(F.lit(desc)),
                      F.lit(label)).otherwise(expr)
    return expr


_LEN_FIELD_RE = r"suggested post length[:\s]*(.+?)(?:\n|\*\*|$)"
_EMOJI_FIELD_RE = r"emoji usage[:\s]*(.+?)(?:\n|\*\*|$)"


def _lazy_field(prompt: Column, pattern: str) -> Column:
    """Reference 23-split.py field scrape: re.search over the LOWERED
    prompt with a lazy group terminated by newline/'**'/end. Note the
    captured group keeps the reference's quirky '**: ' prefix (the
    [:\\s]* gap does not consume asterisks) — faithfully preserved
    because the raw-return fallback surfaces it in combo keys.
    Returns NULL (not '') on no match."""
    got = F.regexp_extract(F.lower(prompt), pattern, 1)
    return F.when(got == "", F.lit(None)).otherwise(got)


def contains_any(col: Column, *needles: str) -> Column:
    """OR-fold of substring containment checks."""
    cond = F.lit(False)
    for n in needles:
        cond = cond | col.contains(F.lit(n))
    return cond


def extract_max_length_std(prompt: Column) -> Column:
    """P13-adjacent stage-23 metadata (23-split.py:75-103): scrape the
    'Suggested Post Length' value and standardize to
    short/medium/long; unknown when the field is absent; the raw
    (stripped) scrape when no rule fires."""
    t = py_strip(_lazy_field(prompt, _LEN_FIELD_RE))
    return (F.when(t.isNull(), F.lit("unknown"))
             .when(t.contains("750") & t.contains("1,500"), F.lit("medium"))
             .when(t.contains("1,500") & t.contains("3,000"), F.lit("long"))
             .when(t.contains("750"), F.lit("short"))
             .when(contains_any(t, "short", "brief", "concise"),
                   F.lit("short"))
             .when(contains_any(t, "medium", "moderate", "average"),
                   F.lit("medium"))
             .when(contains_any(t, "long", "detailed", "comprehensive"),
                   F.lit("long"))
             .otherwise(t))


def extract_emoji_usage_std(prompt: Column) -> Column:
    """Stage-23 metadata (23-split.py:105-131): scrape 'Emoji Usage'
    and standardize; unknown when absent; raw scrape fallback. The
    category word-lists are substring checks in reference order
    ('very low' before 'low' matters)."""
    t = py_strip(_lazy_field(prompt, _EMOJI_FIELD_RE))
    return (F.when(t.isNull(), F.lit("unknown"))
             .when(contains_any(t, "none", "no", "zero"), F.lit("none"))
             .when(contains_any(t, "very low", "minimal", "rarely"),
                   F.lit("very low"))
             .when(contains_any(t, "low", "occasional", "sparse"),
                   F.lit("low"))
             .when(contains_any(t, "medium", "moderate", "average"),
                   F.lit("medium"))
             .when(contains_any(t, "high", "frequent", "many"),
                   F.lit("high"))
             .when(contains_any(t, "extreme", "heavy", "abundant"),
                   F.lit("extreme"))
             .otherwise(t))


def first_tone(chosen: Column) -> Column:
    """P15 (23-split.py:154-166): first tone of a comma-joined tone
    list, lowercased+trimmed; NULL for empty."""
    head = F.lower(py_strip(F.element_at(F.split(chosen, ","), 1)))
    return F.when(head == "", F.lit(None).cast("string")).otherwise(head)


def is_disallowed_opinion(col: Column) -> Column:
    """Stage-12 opinion cleaner, exact shipped semantics
    (12-clean-opinions.py:19-33): CJK character anywhere, or the
    whole value trims/lowers to 'unknown'. NO substring list — the
    opinion cleaner is strictly weaker than the topic cleaner;
    pinned against the reference binary in
    tests/test_reference_differential.py."""
    return col.rlike(CJK_PATTERN) | (F.lower(py_strip(col)) == "unknown")


def is_disallowed_context_effective(col: Column) -> Column:
    """P9 bug-compatible variant — the EXACT shipped stage-15 filter
    (15-clean-context.py:17-40): CJK -> drop, trims/lowers to
    'unknown' -> drop, then the buggy term line
    `if "$3.5M" and "LinkedIn" and "650+" in context` which by Python
    truthiness only evaluates `"650+" in context` (SURVEY Q4). The
    CJK and 'unknown' checks DO run in the reference (they precede
    the buggy line) — modeling only the 650+ term (as this function
    did before r6) under-dropped; pinned against the reference binary
    in tests/test_reference_differential.py. The engine's default
    cleaners use the intended stage-07 semantics (is_disallowed)."""
    return (col.rlike(CJK_PATTERN)
            | (F.lower(py_strip(col)) == "unknown")
            | col.contains(F.lit("650+")))
