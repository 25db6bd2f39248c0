"""Reward-function library — the reference's inverse query surface
(training/rewards/*.py; SURVEY §2.11 R1-R20). Each reward maps
(prompt, completion) -> double in [0, 1] as a NATIVE Column expression
(JVM-side, codegen-friendly; no Python UDFs), so scoring a 100 TB pair
table is a single wide projection.

Engine deviations from the reference (documented; all deterministic):
  * tokenization: maximal ``[a-z]+`` runs / whitespace splits instead
    of NLTK word_tokenize (vocabulary.py:32, structure.py:44);
  * sentence split: ``[.!?]+`` boundaries instead of punkt
    (base.py:71 sent_tokenize);
  * sentiment: a fixed mini-lexicon scorer instead of VADER
    (base.py:78-80) — same arc thresholds, engine-mirrorable;
  * emoji: public-codepoint-block regex instead of the ``emojis``
    package (emoji.py:49, emoji_variety.py:8);
  * narrative flow bonus is the constant +0.3 — the reference compares
    ``flow[0]`` (a character) against full strings, so the check always
    passes (narrative.py:19-20);
  * 'Differing Emojis' bullet match is the constant 0.8 when desired —
    the reference tests ``emojis.count(em) > 0`` over literal emoji
    chars, which is always true (bullet_style.py:46);
  * organization-name fabrication penalty is 0 — the reference's
    non-spaCy fallback returns [] (prompt_parsing.py:257-260).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .textstats import EMOJI_CLASS, bin_label, char_count

# ---------------------------------------------------------------------------
# prompt-field extraction (prompt_parsing.py:119-158 style-block regexes)
# ---------------------------------------------------------------------------


def style_field(prompt: Column, name: str) -> Column:
    # P14 regex metadata extraction (23:75-131, prompt_parsing.py:6-120)
    """``**Name**: value`` field value ('' when absent). Same regex
    runs under Java regex and DuckDB RE2 (no lookbehind)."""
    return F.regexp_extract(prompt, r"\*\*" + name + r"\*\*:\s*([^\n]*)", 1)


def has_style_field(prompt: Column, name: str) -> Column:
    return prompt.rlike(r"\*\*" + name + r"\*\*:")


# ---------------------------------------------------------------------------
# R1/R2 — post length (length.py:6-88)
# ---------------------------------------------------------------------------


def _banded_length_score(length: Column, lo: int, hi: int) -> Column:
    """0.7*(len/lo) below, 0.7+0.3*position inside, 0.6/0.3/0.0 decay
    past +10%/+25% over (length.py:28-55)."""
    over = (length - hi).cast("double") / hi
    inside = F.lit(0.7) + 0.3 * (length - lo).cast("double") / (hi - lo)
    return (F.when(length < lo, 0.7 * length.cast("double") / lo)
             .when(length <= hi, inside)
             .when(over <= 0.1, F.lit(0.6))
             .when(over <= 0.25, F.lit(0.3))
             .otherwise(F.lit(0.0)))


def precise_post_length(prompt: Column, completion: Column,
                        req: Column | None = None) -> Column:
    """R1 (length.py:6-88): parse '**Suggested Post Length**', score
    piecewise per bucket; generic 'up to N characters' fallback R2.
    ``req`` lets callers pass the extracted+trimmed field (computed
    once in a primitives projection — see q26_rewards_scalar)."""
    if req is None:
        from .cleaning import py_strip
        req = py_strip(style_field(prompt, "Suggested Post Length"))
    rl = F.lower(req)
    length = F.length(completion)
    # up-to-750 bucket (length.py:11-22)
    upto = (F.when(length <= 750,
                   F.lit(0.7) + 0.3 * F.least(F.lit(1.0),
                                              length.cast("double") / 750))
             .when((length - 750).cast("double") / 750 <= 0.1, F.lit(0.6))
             .when((length - 750).cast("double") / 750 <= 0.25, F.lit(0.3))
             .otherwise(F.lit(0.0)))
    # generic fallback (length.py:60-77) — CPython re classes: \s is
    # unicode whitespace ('up\xa0to 750' DOES parse), \d is any Nd
    # digit and int() reads them ('٧٥٠' == 750), so non-ASCII digits
    # translate to their decimal values before the cast (r7 unit
    # differential; measured tables in _unicode_py_classes)
    from ._unicode_py_classes import (NON_ASCII_ND_DST, NON_ASCII_ND_SRC,
                                      PY_DIGIT_CHAR, PY_SPACE_CHAR)
    _d, _sp = PY_DIGIT_CHAR, PY_SPACE_CHAR
    m = F.regexp_extract(
        req, "(?iU)up" + _sp + "+to" + _sp + "+(" + _d + "+(," + _d
        + "+)?)" + _sp + "+characters", 1)
    ascii_digits = F.translate(m, NON_ASCII_ND_SRC, NON_ASCII_ND_DST)
    max_chars = F.replace(ascii_digits, F.lit(","), F.lit("")).cast("long")
    # greatest(.,1): a prompt reading 'up to 0 characters' must score
    # 0.0, not raise ANSI DIVIDE_BY_ZERO (the reference's Python would
    # crash there too; documented deviation)
    fb_over = (length - max_chars).cast("double") / F.greatest(max_chars,
                                                               F.lit(1))
    fallback = (F.when(m == "", F.lit(0.5))
                 .when(length <= max_chars, F.lit(1.0))
                 .when(fb_over <= 0.1, F.lit(0.7))
                 .when(fb_over <= 0.25, F.lit(0.4))
                 .otherwise(F.lit(0.0)))
    return (F.when(req == "", F.lit(0.5))
             .when(rl.contains("up to 750"), upto)
             .when(rl.contains("between 750 and 1,500"),
                   _banded_length_score(length, 750, 1500))
             .when(rl.contains("between 1,500 and 3,000"),
                   _banded_length_score(length, 1500, 3000))
             .otherwise(fallback))


def precise_post_length_grpo(prompt: Column, completion: Column) -> Column:
    """R1 via the GRPO EFFECTIVE invocation (26-train-grpo.py:198
    routes through prompt_parsing.parse_writing_style_block:128-132):
    the dash form ``- Post length: (up to [\\d,]+ characters)`` is
    tried FIRST (case-insensitive, literal single spaces, unicode
    ``\\d``), falling back to the ``**Suggested Post Length**`` field
    matched case-insensitively; the value str.strip()s.

    Distinct from :func:`precise_post_length`, which mirrors
    length.py's OWN wrapper (the score_app / evaluate_rewards path,
    case-SENSITIVE field name) — both invocation paths are genuine
    reference surfaces and each engine form is unit-differentialed
    against its counterpart."""
    from ._unicode_py_classes import PY_DIGIT_CHAR
    from .cleaning import py_strip
    digit_comma = PY_DIGIT_CHAR[:-1] + ",]"    # [\d<measured>,]
    dash = F.regexp_extract(
        prompt,
        r"(?iU)-\s*Post\s+length:\s*(up to " + digit_comma
        + "+ characters)", 1)
    star = F.regexp_extract(
        prompt, r"(?iU)\*\*Suggested Post Length\*\*:\s*([^\n]*)", 1)
    req = py_strip(F.when(dash != "", dash).otherwise(star))
    return precise_post_length(prompt, completion, req=req)


# ---------------------------------------------------------------------------
# R6 — punctuation usage (punctuation.py:6-66)
# ---------------------------------------------------------------------------

_PUNCT_THRESHOLDS: dict[str, tuple[str, str, float, float, float]] = {
    # name -> (char, heavy-substring, low, normal, heavy)
    "periods": (".", "heavy use of periods", 0.01, 0.02, 0.03),
    "commas": (",", "heavy use of commas", 0.01, 0.02, 0.03),
    "exclamation": ("!", "heavy use of exclamation", 0.001, 0.005, 0.01),
    "question": ("?", "heavy use of question", 0.001, 0.005, 0.01),
    "semicolon": (";", "heavy use of semicolons", 0.0005, 0.001, 0.002),
}


def punctuation_usage(prompt: Column, completion: Column) -> Column:
    """R6: requested heavy/normal per mark vs actual per-char
    frequency; mean of the five per-type scores."""
    field = F.lower(style_field(prompt, "Punctuation"))
    n = F.length(completion)
    type_scores = []
    for _name, (ch, heavy_sub, low, normal, heavy) in _PUNCT_THRESHOLDS.items():
        freq = char_count(completion, ch).cast("double") / n
        heavy_req = field.contains(heavy_sub)
        heavy_score = (F.when(freq >= heavy, F.lit(1.0))
                        .when(freq >= normal, F.lit(0.7))
                        .when(freq >= low, F.lit(0.4))
                        .otherwise(F.lit(0.1)))
        normal_score = (F.when((freq >= low) & (freq <= normal), F.lit(1.0))
                         .when(freq < low, F.lit(0.6))
                         .when(freq < heavy, F.lit(0.8))
                         .otherwise(F.lit(0.4)))
        type_scores.append(F.when(heavy_req, heavy_score).otherwise(normal_score))
    mean = sum(type_scores[1:], type_scores[0]) / len(type_scores)
    return (F.when(~has_style_field(prompt, "Punctuation"), F.lit(0.5))
             .when(n == 0, F.lit(0.3))
             .otherwise(mean))


# ---------------------------------------------------------------------------
# R7 — line-break usage (linebreaks.py:6-74)
# ---------------------------------------------------------------------------


def line_break_usage(prompt: Column, completion: Column) -> Column:
    """R7: line-break ratio per 100 chars vs the requested style."""
    t = F.lower(style_field(prompt, "Line Break Usage"))
    style = (F.when(t.contains("frequent"), F.lit("frequent"))
              .when(t.contains("fewer") | t.contains("compact"), F.lit("fewer"))
              .when(t.contains("no ") | t.contains("continuous"), F.lit("none"))
              .when(t.contains("moderate"), F.lit("moderate")))
    n = F.length(completion)
    line_count = char_count(completion, "\n") + 1
    ratio = F.when((n == 0) | (line_count <= 1), F.lit(0.0)).otherwise(
        (line_count - 1).cast("double") / n * 100)
    frequent = (F.when(ratio > 2, 1.0).when(ratio > 1.5, 0.8)
                 .when(ratio > 1, 0.6).when(ratio > 0.5, 0.4).otherwise(F.lit(0.2)))
    fewer = (F.when((ratio > 0.2) & (ratio <= 0.8), 1.0)
              .when(((ratio > 0) & (ratio <= 0.2))
                    | ((ratio > 0.8) & (ratio <= 1.2)), 0.7)
              .when(ratio > 1.2, 0.3).otherwise(F.lit(0.5)))
    none = (F.when(ratio == 0, 1.0).when(ratio <= 0.2, 0.7)
             .when(ratio <= 0.5, 0.4).otherwise(F.lit(0.2)))
    moderate = (F.when((ratio > 0.8) & (ratio <= 1.5), 1.0)
                 .when(((ratio > 0.5) & (ratio <= 0.8))
                       | ((ratio > 1.5) & (ratio <= 2)), 0.8)
                 .when(((ratio > 0.2) & (ratio <= 0.5))
                       | ((ratio > 2) & (ratio <= 2.5)), 0.5)
                 .otherwise(F.lit(0.3)))
    return (F.when(style.isNull(), F.lit(0.5))
             .when(style == "frequent", frequent)
             .when(style == "fewer", fewer)
             .when(style == "none", none)
             .otherwise(moderate))


# ---------------------------------------------------------------------------
# R15 — vocabulary richness (vocabulary.py:6-73)
# ---------------------------------------------------------------------------


def vocabulary_usage(prompt: Column, completion: Column) -> Column:
    """R15: unique/total alpha-token ratio vs requested richness."""
    t = F.lower(style_field(prompt, "Vocabulary Usage"))
    req = (F.when(t.contains("rich"), F.lit("rich"))
            .when(t.contains("developed"), F.lit("developed"))
            .when(t.contains("normal"), F.lit("normal"))
            .when(t.contains("conservative") | t.contains("narrow"),
                  F.lit("conservative")))
    words = F.regexp_extract_all(F.lower(completion), F.lit("[a-z]+"), 0)
    total = F.size(words)
    ratio = F.size(F.array_distinct(words)).cast("double") / total
    rich = (F.when(ratio > 0.5, 1.0).when(ratio > 0.4, 0.8)
             .when(ratio > 0.3, 0.5).otherwise(F.lit(0.3)))
    developed = (F.when((ratio > 0.35) & (ratio <= 0.5), 1.0)
                  .when(((ratio > 0.3) & (ratio <= 0.35))
                        | ((ratio > 0.5) & (ratio <= 0.6)), 0.8)
                  .when(((ratio > 0.25) & (ratio <= 0.3)) | (ratio > 0.6), 0.5)
                  .otherwise(F.lit(0.3)))
    normal = (F.when((ratio > 0.25) & (ratio <= 0.35), 1.0)
               .when(((ratio > 0.2) & (ratio <= 0.25))
                     | ((ratio > 0.35) & (ratio <= 0.4)), 0.8)
               .when(((ratio > 0.15) & (ratio <= 0.2))
                     | ((ratio > 0.4) & (ratio <= 0.5)), 0.5)
               .otherwise(F.lit(0.3)))
    conservative = (F.when(ratio <= 0.25, 1.0).when(ratio <= 0.3, 0.8)
                     .when(ratio <= 0.35, 0.5).otherwise(F.lit(0.3)))
    return (F.when(req.isNull(), F.lit(0.5))
             .when(total == 0, F.lit(0.2))
             .when(req == "rich", rich)
             .when(req == "developed", developed)
             .when(req == "normal", normal)
             .otherwise(conservative))


# ---------------------------------------------------------------------------
# R16 / R17 — hashtags, CJK guard (hashtags.py:6-15, language.py:6-13)
# ---------------------------------------------------------------------------


def hashtag_limit(completion: Column) -> Column:
    """R16: ``#\\w+`` in the LAST line only; <=3 free, -0.2 each over."""
    tail = F.element_at(F.split(completion, "\n", -1), -1)
    n = F.size(F.regexp_extract_all(tail, F.lit("#[A-Za-z0-9_]+"), 0))
    return F.when(n <= 3, F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), 1.0 - 0.2 * (n - 3)))


def chinese_character_guard(completion: Column) -> Column:
    """R17: 0.0 if any CJK char, else 1.0."""
    return F.when(completion.rlike("[一-鿿]"), F.lit(0.0)).otherwise(F.lit(1.0))


# ---------------------------------------------------------------------------
# R3/R4/R5 — emoji rewards (emoji.py, emoji_variety.py)
# ---------------------------------------------------------------------------

_EMOJI_ORDER = ("none", "very low", "low", "medium", "high", "extreme")


def _emoji_cat_index(cat: Column) -> Column:
    expr = F.lit(-1)
    for i, label in enumerate(_EMOJI_ORDER):
        expr = F.when(cat == label, F.lit(i)).otherwise(expr)
    return expr


def enhanced_emoji_usage(prompt: Column, completion: Column,
                         field: Column | None = None,
                         emoji_count: Column | None = None,
                         completion_len: Column | None = None) -> Column:
    """R3 (emoji.py:38-63): bin distance between required and actual
    emoji-frequency category -> 1.0/0.7/0.4/0.0. ``field`` = the
    pre-lowered Emoji Usage style field; ``emoji_count`` = precomputed
    emoji-regex match count (shared with R4/R5 so the giant codepoint
    class runs ONCE per row, not three times); ``completion_len`` =
    precomputed length(completion), so a caller that caches primitives
    need not carry the completion text itself.

    The default (field=None) branch mirrors R3's EFFECTIVE invocation
    — 26-train-grpo.py:204 routes through
    prompt_parsing.parse_writing_style_block:134-138, which tries the
    dash form ``- Emoji Usage: (none|infrequent|frequent)`` FIRST,
    falls back to the ``**Emoji Usage**`` field, matches field names
    case-insensitively with UNICODE ``\\s``, and str.strip()s the
    value — so ``(?iU)`` + py_strip here, not ASCII trim (r8 unit
    differential caught 56 reference-scorable divergent cases:
    NBSP-padded values, case-variant names, dash-form precedence).
    The ``field=`` primitive path is the pipeline-canonical fast path
    (q26's stage-18-derived prompts are exact-case and clean, where
    both parses agree)."""
    if field is None:
        from .cleaning import py_strip
        dash = F.lower(F.regexp_extract(
            prompt, r"(?iU)-\s*Emoji\s+Usage:\s*(none|infrequent|frequent)",
            1))
        star = F.lower(py_strip(F.regexp_extract(
            prompt, r"(?iU)\*\*Emoji Usage\*\*:\s*([^\n]*)", 1)))
        req = F.when(dash != "", dash).otherwise(star)
    else:
        req = F.trim(field)
    required_cat = (F.when(req.isin(*_EMOJI_ORDER), req)
                     .when(req == "infrequent", F.lit("low"))
                     .when(req == "frequent", F.lit("high"))
                     .otherwise(F.lit("medium")))
    n = F.length(completion) if completion_len is None else completion_len
    ec = (F.regexp_count(completion, F.lit(EMOJI_CLASS))
          if emoji_count is None else emoji_count)
    freq = F.when(n > 0, ec.cast("double") / n).otherwise(F.lit(0.0))
    actual_cat = bin_label(freq)
    d = F.abs(_emoji_cat_index(required_cat) - _emoji_cat_index(actual_cat))
    return (F.when(req == "", F.lit(0.5))
             .when(actual_cat == required_cat, F.lit(1.0))
             .when(d == 1, F.lit(0.7))
             .when(d == 2, F.lit(0.4))
             .otherwise(F.lit(0.0)))


def emoji_usage_coarse(prompt: Column, completion: Column,
                       field: Column | None = None,
                       emoji_count: Column | None = None,
                       completion_len: Column | None = None) -> Column:
    """R4 (emoji.py:66-102): coarse none/infrequent/frequent matrix.
    ``field``/``emoji_count``/``completion_len``: see
    enhanced_emoji_usage."""
    req = (F.lower(style_field(prompt, "Emoji Usage"))
           if field is None else field)
    simple_req = (F.when(req == "none", F.lit("none"))
                   .when(req.isin("infrequent", "very low", "low"),
                         F.lit("infrequent"))
                   .when(req.isin("frequent", "medium", "high", "extreme"),
                         F.lit("frequent"))
                   .otherwise(F.lit("infrequent")))
    n = F.length(completion) if completion_len is None else completion_len
    ec = (F.regexp_count(completion, F.lit(EMOJI_CLASS))
          if emoji_count is None else emoji_count)
    freq = F.when(n > 0, ec.cast("double") / n).otherwise(F.lit(0.0))
    actual = bin_label(freq)
    simple_actual = (F.when(actual == "none", F.lit("none"))
                      .when(actual.isin("very low", "low"), F.lit("infrequent"))
                      .otherwise(F.lit("frequent")))
    return (F.when(req == "", F.lit(0.5))
             .when(simple_req == simple_actual, F.lit(1.0))
             .when(simple_req == "none",
                   F.when(simple_actual == "infrequent", 0.5).otherwise(F.lit(0.0)))
             .when(simple_req == "infrequent",
                   F.when(simple_actual == "none", 0.5).otherwise(F.lit(0.3)))
             .otherwise(  # frequent requested
                 F.when(simple_actual == "infrequent", 0.7).otherwise(F.lit(0.0))))


def emoji_variety(completion: Column) -> Column:
    """R5 (emoji_variety.py:6-21): unique/total emoji ratio bins."""
    all_emoji = F.regexp_extract_all(completion, F.lit(EMOJI_CLASS), 0)
    total = F.size(all_emoji)
    ratio = F.size(F.array_distinct(all_emoji)).cast("double") / total
    return (F.when(total == 0, F.lit(0.0))
             .when(ratio >= 0.9, F.lit(1.0))
             .when(ratio >= 0.7, F.lit(0.8))
             .when(ratio >= 0.5, F.lit(0.6))
             .otherwise(F.lit(0.4)))


# ---------------------------------------------------------------------------
# sentence machinery shared by R8/R9/R12/R14 (base.py:68-142)
# ---------------------------------------------------------------------------


def sentences(text: Column) -> Column:
    """T1 sentence segmentation (features/text_stats.py:12-14 shape): Sentences = non-empty trimmed ``[.!?]+``-delimited segments."""
    return F.filter(F.transform(F.split(text, "[.!?]+"), lambda s: F.trim(s)),
                    lambda s: s != "")


def _trunc5k(text: Column) -> Column:
    """base.py's ``text[:5000]`` guard (get_sentiment_scores:69,
    analyze_pacing:119, analyze_narrative_flow:98).  Spark substring
    counts code points like a CPython slice."""
    return F.substring(text, 1, 5000)


def _py_words(s: Column) -> Column:
    """``str.split()`` tokens (r8 differential): unicode whitespace,
    empty tokens dropped — a sentence with a leading '\\n' (Spark trim
    strips spaces only) or an NBSP-joined pair must not change the
    count the reference's shimmed ``word_tokenize`` produces."""
    from .cleaning import PY_WS_SPLIT
    return F.filter(F.split(s, PY_WS_SPLIT), lambda t: t != "")


def _sentence_token_counts(sents: Column) -> Column:
    return F.transform(sents, lambda s: F.size(_py_words(s)))


def _mean(arr: Column) -> Column:
    return (F.aggregate(arr, F.lit(0), lambda a, x: a + x).cast("double")
            / F.size(arr))


def _pop_var(arr: Column) -> Column:
    mean = _mean(arr)
    sq = F.aggregate(arr, F.lit(0), lambda a, x: a + x * x).cast("double")
    return sq / F.size(arr) - mean * mean


POSITIVE_WORDS = (
    "good", "great", "love", "happy", "best", "amazing", "excellent",
    "win", "success", "beautiful", "awesome", "excited", "wonderful",
    "positive", "enjoy", "proud",
)
NEGATIVE_WORDS = (
    "bad", "worst", "hate", "terrible", "awful", "fail", "failure",
    "sad", "angry", "problem", "wrong", "horrible", "negative", "poor",
    "fear", "loss",
)


def _lexicon_score(sentence: Column) -> Column:
    """Mini-lexicon 'compound' in [-1, 1] (replaces VADER, see module
    docstring): 5*(pos-neg)/tokens, clamped; tokens are
    ``sentence.lower().split()`` (unicode, no empties)."""
    toks = _py_words(F.lower(sentence))
    pos = F.size(F.filter(toks, lambda t: t.isin(*POSITIVE_WORDS)))
    neg = F.size(F.filter(toks, lambda t: t.isin(*NEGATIVE_WORDS)))
    raw = 5.0 * (pos - neg).cast("double") / F.greatest(F.size(toks), F.lit(1))
    return F.least(F.lit(1.0), F.greatest(F.lit(-1.0), raw))


def sentiment_scores(text: Column) -> Column:
    """T9 per-sentence sentiment (17:300-312 / rewards/base.py:68-80): base.py:68-80: per-sentence scores; >10 sentences sampled with
    stride ``max(1, n // 10)``; the reference tokenizes
    ``text[:5000]`` (r8 differential)."""
    sents = sentences(_trunc5k(text))
    n = F.size(sents)
    step = F.greatest(F.lit(1), (n / 10).cast("int"))
    sampled = F.when(n > 10,
                     F.filter(sents, lambda s, i: i % step == 0)
                     ).otherwise(sents)
    return F.transform(sampled, _lexicon_score)


def sentiment_arc(scores: Column) -> Column:
    """base.py:83-94: first/middle/last comparison ->
    Rising/Falling/Flat/Variable; <3 scores -> Neutral."""
    n = F.size(scores)
    first = F.element_at(scores, 1)
    middle = F.element_at(scores, (n / 2).cast("int") + 1)
    last = F.element_at(scores, -1)
    return (F.when(n < 3, F.lit("Neutral"))
             .when((first < middle) & (middle < last) & (last > 0.2),
                   F.lit("Rising"))
             .when((first > middle) & (middle > last) & (last < -0.2),
                   F.lit("Falling"))
             .when((F.abs(last - first) < 0.1) & (F.abs(middle) < 0.1),
                   F.lit("Flat"))
             .otherwise(F.lit("Variable")))


def pacing(text: Column) -> Column:
    """base.py:117-129: stddev>7 Variable, avg<10 Fast, avg>20 Slow,
    else Moderate; <3 sentences -> Short/Not Enough Data; over
    ``text[:5000]`` like the reference (r8 differential)."""
    sents = sentences(_trunc5k(text))
    lens = _sentence_token_counts(sents)
    avg, std = _mean(lens), F.sqrt(_pop_var(lens))
    return (F.when(F.size(sents) < 3, F.lit("Short/Not Enough Data"))
             .when(std > 7, F.lit("Variable"))
             .when(avg < 10, F.lit("Fast"))
             .when(avg > 20, F.lit("Slow"))
             .otherwise(F.lit("Moderate")))


# ---------------------------------------------------------------------------
# R8 — tone alignment (tone.py:7-38)
# ---------------------------------------------------------------------------

_TONE_MAP = {
    "friendly": "positive", "cheerful": "positive", "charming": "positive",
    "professional": "neutral", "informative": "neutral", "scholarly": "neutral",
    "serious": "negative", "rebellious": "negative", "sarcastic": "negative",
}


def tone_alignment(prompt: Column, completion: Column) -> Column:
    """R8 of a pair: ``tone_fit`` against the completion's arc."""
    return tone_fit(prompt, sentiment_arc(sentiment_scores(completion)))


def tone_fit(prompt: Column, arc: Column) -> Column:
    """R8: requested tones -> pos/neg/neutral targets vs the
    ``sentiment_arc`` label ``arc``; mean of per-tone 1.0/0.6 scores.

    The field parse mirrors CPython re (tone.py:12-15): ``\\s*`` is
    unicode whitespace (and may cross newlines), and each
    comma-separated tone ``str.strip()``s — 'friendly\\xa0' is still
    friendly (r8 differential)."""
    from ._unicode_py_classes import PY_SPACE_CHAR
    from .cleaning import py_strip
    sp = PY_SPACE_CHAR + "*"
    raw = F.regexp_extract(
        prompt, r"(?iU)\*\*Tone\*\*: " + sp + r"([^\n]+)", 1)
    raw = F.when(raw == "", F.regexp_extract(
        prompt, r"(?iU)-" + sp + "Tone:" + sp + r"([^\n]+)", 1)
        ).otherwise(raw)
    tones = F.filter(F.transform(F.split(raw, ","),
                                 lambda t: F.lower(py_strip(t))),
                     lambda t: t != "")

    def desired(t: Column) -> Column:
        expr = F.lit("neutral")
        for tone, target in _TONE_MAP.items():
            expr = F.when(t == tone, F.lit(target)).otherwise(expr)
        return expr

    def tone_score(t: Column) -> Column:
        d = desired(t)
        return (F.when(d == "positive",
                       F.when(arc == "Rising", 1.0).otherwise(F.lit(0.6)))
                 .when(d == "negative",
                       F.when(arc == "Falling", 1.0).otherwise(F.lit(0.6)))
                 .otherwise(F.when(arc.isin("Flat", "Neutral"), 1.0)
                             .otherwise(F.lit(0.6))))

    per_tone = F.transform(tones, tone_score)
    mean = (F.aggregate(per_tone, F.lit(0.0), lambda a, x: a + x)
            / F.size(per_tone))
    return F.when(F.size(tones) == 0, F.lit(0.5)).otherwise(mean)


# ---------------------------------------------------------------------------
# R9 — sentence structure (structure.py:9-70)
# ---------------------------------------------------------------------------


def sentence_structure(prompt: Column, completion: Column) -> Column:
    """R9: avg sentence length + population variance vs requested
    short/long/balanced; paragraph heuristic when no request.

    The request parse is structure.py:12's
    ``\\*\\*Sentence Structure\\*\\*:\\s*(.*?)(?:\\n|$)`` under
    CPython re: case-SENSITIVE, and the greedy unicode ``\\s*`` may
    cross newlines — a value on the next line still counts (r8
    differential).  Paragraphs are ``str.strip()``ped."""
    from ._unicode_py_classes import PY_SPACE_CHAR
    from .cleaning import py_strip
    t = F.lower(F.regexp_extract(
        prompt,
        r"(?U)\*\*Sentence Structure\*\*:" + PY_SPACE_CHAR + r"*([^\n]*)",
        1))
    req = (F.when(t.contains("short") & t.contains("sentences"), F.lit("short"))
            .when(t.contains("long") & t.contains("complex"), F.lit("long"))
            .when(t.contains("mix") | t.contains("balanced"), F.lit("balanced")))
    sents = sentences(completion)
    ns = F.size(sents)
    lens = _sentence_token_counts(sents)
    avg, var = _mean(lens), _pop_var(lens)
    paragraphs = F.filter(F.transform(F.split(completion, "\n\n"), py_strip),
                          lambda p: p != "")
    fallback = (F.when((F.size(paragraphs) >= 2) & (ns >= 2), F.lit(0.9))
                 .when(ns >= 2, F.lit(0.7)).otherwise(F.lit(0.5)))
    short = (F.when(avg < 10, 1.0).when(avg < 15, 0.7)
              .when(avg < 20, 0.4).otherwise(F.lit(0.2)))
    long_ = (F.when(avg > 20, 1.0).when(avg > 15, 0.7)
              .when(avg > 10, 0.4).otherwise(F.lit(0.2)))
    balanced = (F.when((avg >= 10) & (avg <= 20) & (var > 20), 1.0)
                 .when((avg >= 10) & (avg <= 20), 0.7)
                 .when(var > 20, 0.6).otherwise(F.lit(0.4)))
    return (F.when(req.isNull(), fallback)
             .when(ns < 2, F.lit(0.3))
             .when(req == "short", short)
             .when(req == "long", long_)
             .otherwise(balanced))


# ---------------------------------------------------------------------------
# R10 — bullet style (bullet_style.py:8-55; base.py:38-65 detector)
# ---------------------------------------------------------------------------


def detect_bullet_styles(text: Column) -> Column:
    """T5/R10 bullet-style detector (training/rewards/base.py:38-65):
    per-line Numbers/Letters/first-symbol labels over python-stripped
    lines; >1 distinct -> 'Mixed Bullet Styles'; none -> NULL.

    CPython-faithful classes (r7 unit-differential program): the
    reference matches ``re`` ``\\d``/``\\s``/``[^\\w\\s]`` on
    ``line.strip()`` — unicode digits ('١٢٣.' IS numbered), unicode
    whitespace after the dot, and a symbolic class that excludes
    Python word chars (No/Nl numerics like '²' are NOT word chars in
    Java's (?U)\\w but ARE in Python's — measured skew classes from
    functions/_unicode_py_classes.py)."""
    from .cleaning import (PY_DIGIT_CHAR, PY_NONWORDSPACE_CHAR, py_strip)
    sp = r"[\s\x1c-\x1f]"
    numbered = "(?U)^" + PY_DIGIT_CHAR + "+[.)]" + sp + "+"
    lettered = "(?U)^[a-zA-Z]+[.)]" + sp + "+"
    symbolic = "(?U)^" + PY_NONWORDSPACE_CHAR
    lines = F.filter(F.transform(F.split(text, "\n", -1), py_strip),
                     lambda l: l != "")
    labels = F.transform(
        lines,
        lambda l: F.when(l.rlike(numbered), F.lit("Numbers"))
                   .when(l.rlike(lettered), F.lit("Letters"))
                   .when(l.rlike(symbolic), F.substring(l, 1, 1)))
    labels = F.filter(labels, lambda x: x.isNotNull())
    distinct = F.array_distinct(labels)
    return (F.when(F.size(labels) == 0, F.lit(None).cast("string"))
             .when(F.size(distinct) > 1, F.lit("Mixed Bullet Styles"))
             .otherwise(F.element_at(distinct, 1)))


def bullet_style(prompt: Column, completion: Column) -> Column:
    """R10: desired styles parsed from the prompt vs detected style;
    max of per-style match scores."""
    m = F.regexp_extract(prompt, r"(?i)Bullet\s+Styles?:\s*([^\n]*)", 1)
    m = F.when(m == "", F.regexp_extract(
        prompt, r"(?i)\*\*Bullet Styles\*\*:\s*([^\n]*)", 1)).otherwise(m)
    info = F.lower(F.trim(m))
    detected = detect_bullet_styles(completion)
    det_lower = F.lower(detected)
    any_desired = (info.contains("•") | info.contains("dot")
                   | info.contains("emoji") | info.contains("numbers")
                   | info.contains("letters"))
    emoji_n = F.regexp_count(completion, F.lit(EMOJI_CLASS))
    candidates = [
        F.when((info.contains("•") | info.contains("dot"))
               & ((detected == "•") | completion.contains("•")), 1.0),
        # 'Differing Emojis': constant 0.8 (reference always-true check)
        F.when(info.contains("differing emojis"), 0.8),
        F.when(info.contains("emoji") & (emoji_n > 0), 0.7),
        F.when(info.contains("numbers") & det_lower.contains("numbers"), 0.9),
        F.when(info.contains("letters") & det_lower.contains("letters"), 0.9),
    ]
    match = F.greatest(*[F.coalesce(c.cast("double"), F.lit(0.0))
                         for c in candidates])
    return (F.when(~any_desired,
                   F.when(detected.isNotNull(), 1.0).otherwise(F.lit(0.0)))
             .when(detected.isNull(), F.lit(0.0))
             .otherwise(match))


# ---------------------------------------------------------------------------
# R11 — section divider (divider.py:5-34)
# ---------------------------------------------------------------------------


def divider_style(prompt: Column, completion: Column) -> Column:
    """R11 + T6 divider detector (17:333-341, features/dividers.py:9-17): requested backtick-quoted divider vs found divider lines
    (all-same-char len>=3, or len>=5 space-alternating). The
    same-char test is ``line == repeat(first_char, len)`` — no regex
    backreference, so it mirrors into RE2-bound engines."""
    from .cleaning import py_strip
    req = F.regexp_extract(
        prompt, r"(?U)\*\*Section Divider\*\*:[\s\x1c-\x1f]*`([^`]+)`", 1)
    lines = F.filter(F.transform(F.split(completion, "\n", -1), py_strip),
                     lambda l: l != "")

    def divider_char(l: Column) -> Column:
        first = F.substring(l, 1, 1)
        same = (F.length(l) >= 3) & (l == F.repeat(first, F.length(l)))
        # reference (divider.py:25): len >= 5, line[0] == line[2] and
        # EVERY odd position is a plain ' ' — even positions beyond 2
        # are UNCONSTRAINED ('- - \t -' IS a '-' divider), so the
        # evens are dotall-'.', not [^\s] (r7 unit differential)
        spaced = ((F.length(l) >= 5)
                  & (first == F.substring(l, 3, 1))
                  & l.rlike(r"(?s)^.( .)+$"))
        return F.when(same | spaced, first)

    found = F.filter(F.transform(lines, divider_char),
                     lambda x: x.isNotNull())
    return (F.when(req == "", F.lit(0.5))
             .when(F.size(found) == 0, F.lit(0.0))
             .when(F.array_contains(found, req), F.lit(1.0))
             .otherwise(F.lit(0.3)))


# ---------------------------------------------------------------------------
# R12 / R14 — narrative structure, semantic coherence
# ---------------------------------------------------------------------------


def narrative_structure(completion: Column) -> Column:
    """R12 of a completion: ``narrative_fit`` of its labels."""
    return narrative_fit(sentiment_arc(sentiment_scores(completion)),
                         pacing(completion))


def narrative_fit(arc: Column, pace: Column) -> Column:
    """R12 (narrative.py:6-23) over the ``sentiment_arc`` and
    ``pacing`` labels: 0.4*pacing-ok + 0.3*arc!=Neutral + 0.3 flow
    bonus (constant — see module docstring)."""
    return (F.when(pace != "Short/Not Enough Data", 0.4).otherwise(F.lit(0.0))
            + F.when(arc != "Neutral", 0.3).otherwise(F.lit(0.0))
            + F.lit(0.3))


def semantic_coherence(completion: Column) -> Column:
    """R14 of a completion: ``coherence_fit`` of its labels."""
    return coherence_fit(F.size(sentences(completion)),
                         sentiment_arc(sentiment_scores(completion)),
                         pacing(completion))


def coherence_fit(n_sentences: Column, arc: Column, pace: Column) -> Column:
    """R14 (semantic.py:8-25): 0.5 + 0.25*pacing-ok + 0.25*arc-ok;
    <3 sentences -> 0.6 (>=1) else 0.5.  ``n_sentences`` counts the
    whole completion; ``arc``/``pace`` are labels over ``text[:5000]``,
    as in the reference."""
    full = (F.lit(0.5)
            + F.when(pace != "Short/Not Enough Data", 0.25).otherwise(F.lit(0.0))
            + F.when(arc != "Neutral", 0.25).otherwise(F.lit(0.0)))
    return (F.when(n_sentences < 3,
                   F.when(n_sentences >= 1, F.lit(0.6)).otherwise(F.lit(0.5)))
             .otherwise(F.least(F.lit(1.0), F.greatest(F.lit(0.0), full))))


# ---------------------------------------------------------------------------
# R18 — fabrication detection (fabrication.py:14-100)
# ---------------------------------------------------------------------------

# P17 URL detection (24:35-38, training/grpo/prompt_parsing.py:218-220)
URL_REGEX = r"http[s]?://(?:[a-zA-Z]|[0-9]|[$-_@.&+]|[!*(),]|(?:%[0-9a-fA-F][0-9a-fA-F]))+"

# (?iu): Python re.IGNORECASE folds unicode case (KELVIN SIGN matches
# 'k'); Java needs UNICODE_CASE on top of CASE_INSENSITIVE for that —
# r8 fabrication differential
_NEWSLETTER_PATTERNS = (
    r"(?iu)(sign\s*up|subscribe|join).{0,30}(newsletter)",
    r"(?iu)(register|join).{0,30}(webinar|event)",
    r"(?iu)link in (bio|profile|comments)",
)
_ACTION_PATTERNS = (
    r"(?iu)link in (bio|comments|description)",
    r"(?iu)dm me for",
    r"(?iu)email me at",
    r"(?iu)call (me|us) at",
    r"(?iu)limited time offer",
    r"(?iu)exclusive (deal|offer)",
)


def _capitalized_pairs(text: Column) -> Column:
    """Consecutive capitalized-word pairs — the reference's non-spaCy
    people-name fallback (prompt_parsing.py:165-178): first char
    ``isalpha() and isupper()`` (the MEASURED CPython upper-alpha
    class — 'Éric Dupont' and U+10570-initial Vithkuqi words are
    names, titlecase 'ǅ' is not; r8 differential) and length > 1,
    over Python-whitespace splits."""
    from ._unicode_py_classes import PY_UPPER_ALPHA_CHAR
    from .cleaning import PY_WS_SPLIT, py_strip
    initial = "^(?U)" + PY_UPPER_ALPHA_CHAR + "."
    words = F.split(py_strip(text), PY_WS_SPLIT)
    shifted = F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0)))
    pairs = F.zip_with(F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
                       shifted,
                       lambda a, b: F.when(
                           a.rlike(initial) & b.rlike(initial),
                           F.concat(a, F.lit(" "), b)))
    return F.filter(pairs, lambda x: x.isNotNull())


def fabrication_guard(prompt: Column, completion: Column) -> Column:
    """R18: penalties for fabricated URLs (+0.7 / +0.5), new person
    names (0.1 each, cap 0.5), and promo/action phrases (+0.3 / +0.4);
    score = max(0, 1 - penalty). Org penalty is 0 (see docstring).

    The topic / key-message extraction mirrors CPython re exactly
    (prompt_parsing.py:20-29): ``\\s*`` is UNICODE whitespace (an
    NBSP or em-space after the colon must not truncate the capture)
    and both captures ``str.strip()`` — r8 differential catches."""
    from .cleaning import py_strip
    from ._unicode_py_classes import PY_SPACE_CHAR
    topic = py_strip(F.regexp_extract(
        prompt,
        r"(?iU)on the topic of`?:?" + PY_SPACE_CHAR + r"*`?([^`\n]+)", 1))
    key_msg = py_strip(F.regexp_extract(
        prompt,
        r"(?isU)### Key Message" + PY_SPACE_CHAR + r"*```(.*?)```", 1))
    urls_c = F.regexp_extract_all(completion, F.lit(URL_REGEX), 0)
    urls_p = F.regexp_extract_all(prompt, F.lit(URL_REGEX), 0)
    url_pen = (F.when(F.size(urls_c) == 0, F.lit(0.0))
                .when(F.size(urls_p) == 0, F.lit(0.7))
                .when(F.size(F.array_intersect(urls_c, urls_p)) == 0, F.lit(0.5))
                .otherwise(F.lit(0.0)))
    names_c = _capitalized_pairs(completion)
    known = F.transform(
        F.concat(_capitalized_pairs(topic), _capitalized_pairs(key_msg)),
        F.lower)
    new_names = F.size(F.filter(
        names_c, lambda nm: ~F.array_contains(known, F.lower(nm))))
    name_pen = F.least(F.lit(0.5), new_names.cast("double") * 0.1)

    def phrase_pen(patterns: tuple[str, ...], pen: float) -> Column:
        hit = F.lit(False)
        for p in patterns:
            hit = hit | (completion.rlike(p) & ~topic.rlike(p)
                         & ~key_msg.rlike(p))
        return F.when(hit, F.lit(pen)).otherwise(F.lit(0.0))

    penalty = (url_pen + name_pen
               + phrase_pen(_NEWSLETTER_PATTERNS, 0.3)
               + phrase_pen(_ACTION_PATTERNS, 0.4))
    return F.greatest(F.lit(0.0), 1.0 - penalty)


# ---------------------------------------------------------------------------
# R20 — scenario typing (training/grpo/scenarios.py:4-39)
# ---------------------------------------------------------------------------


def scenario_type(prompt: Column) -> Column:
    lp = F.lower(prompt)
    return (F.when(lp.contains("create a linkedin post that"), F.lit(0))
             .when(lp.contains("analyze the following social media post and "
                               "identify its primary topic"), F.lit(1))
             .when(lp.contains("extract the core opinion from this social "
                               "media post and present it in first person"),
                   F.lit(2))
             .when(lp.contains("analyze this social media post and identify "
                               "up to three primary tones"), F.lit(3))
             .when(lp.contains("classify the structural format of this "
                               "social media post"), F.lit(4))
             .otherwise(F.lit(5)))


def normalize_scenario_score(score: Column) -> Column:
    """scenarios.py:4-18: score/10 capped at 1.0 (all scenarios share
    max 10)."""
    return F.least(score / 10.0, F.lit(1.0))


# ---------------------------------------------------------------------------
# R19 — weighted aggregate (aggregator.py:13-59)
# ---------------------------------------------------------------------------


def aggregate_rewards(rewards: dict[str, Column],
                      weights: dict[str, float] | None = None,
                      clip: bool = False) -> Column:
    """Weighted mean of reward columns: sum(w_i * r_i) / sum(w_i);
    weights default 1.0; optional clip of inputs to [0, 1]."""
    weights = weights or {}
    total, wsum = F.lit(0.0), 0.0
    for name, col in rewards.items():
        w = float(weights.get(name, 1.0))
        if clip:
            col = F.least(F.lit(1.0), F.greatest(F.lit(0.0), col))
        total = total + w * col
        wsum += w
    return total / F.lit(wsum) if wsum else F.lit(0.0)


def topic_shifts_score(completion: Column) -> Column:
    """R13 (training/rewards/topics.py:12-33): consecutive-paragraph
    similarity, scored 1 - |0.5 - avg_sim| (rewarding a medium drift).

    The reference's similarity is spaCy ``doc.similarity`` (word-
    vector cosine); that model isn't available here, so the engine's
    deterministic stand-in is distinct-token Jaccard between
    consecutive paragraphs — same [0,1] range, same monotonicity in
    lexical overlap, fully native (split/array ops, no UDF).

    The WRAPPER is reference-exact (topics.py:12-33, r8 differential
    with the Jaccard injected as ``doc.similarity``): <3 sentences ->
    0.5 (the only early return); paragraphs ``str.strip()``ped and
    truncated to 1000 chars BEFORE tokenizing; <2 paragraphs means an
    empty similarity list -> avg_sim 0.5 -> score 1.0 (NOT 0.5 — the
    pre-r8 engine conflated this with the sentence gate); tokens are
    ``str.split()`` (unicode, no empties); final clamp to [0, 1]."""
    from .cleaning import py_strip
    ns = F.size(sentences(completion))
    paras = F.filter(
        F.transform(F.split(completion, "\n\n"), py_strip),
        lambda p: p != "")
    toks = F.transform(
        paras,
        lambda p: F.array_distinct(_py_words(F.lower(
            F.substring(p, 1, 1000)))))
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - 1)
    sims = F.transform(idx, lambda i: _pair_jaccard(
        F.element_at(toks, i), F.element_at(toks, i + 1)))
    avg_sim = F.when(n < 2, F.lit(0.5)).otherwise(
        F.aggregate(sims, F.lit(0.0), lambda a, x: a + x) / F.size(sims))
    score = F.lit(1.0) - F.abs(F.lit(0.5) - avg_sim)
    return (F.when(ns < 3, F.lit(0.5))
             .otherwise(F.least(F.lit(1.0),
                                F.greatest(F.lit(0.0), score))))


def _pair_jaccard(a: Column, b: Column) -> Column:
    # keep in sync with operators.dedup.jaccard (not imported here to
    # avoid a functions -> operators layering cycle)
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union <= 0, F.lit(0.0)) \
            .otherwise(inter.cast("double") / union)
