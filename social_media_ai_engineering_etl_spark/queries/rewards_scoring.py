"""Reward-scoring queries (SURVEY §2.11 R1-R20) over derived
(prompt, completion) pairs. The pair derivation is deterministic from
``documents`` and mirrored byte-for-byte in the DuckDB oracle CTE, so
every native reward is value-hash checked.

Split into four queries to keep each oracle readable:
  * q26_rewards_scalar    — R1/R2, R6, R7, R15, R16, R17, R3, R4, R5,
                            R20 scenario id, R19 weighted aggregate
  * q26_rewards_textual   — R9 sentence structure, R10 bullets,
                            R11 dividers
  * q26_rewards_sentiment — arc/pacing + R8 tone, R12 narrative,
                            R14 semantic coherence
  * q26_fabrication       — R18
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..functions import rewards as rw
from ..functions.textstats import EMOJI_CLASS
from ..registry import register
from ..session import cached_exprs, read_parquet_cached, widen_scan


def _docs(spark, sf_dir):
    # CPU-heavy per-row work (regex/string/shingle projections): widen
    # the single-row-group local scan to all cores — on a real cluster
    # the scan is already wide and widen_scan is a no-op (see
    # session.widen_scan; found via the r3 bench fix, where the whole
    # reward projection ran on 1 of 32 cores)
    path = os.path.join(sf_dir, "documents.parquet")
    return widen_scan(read_parquet_cached(spark, path), path)


# --------------------------------------------------------------------------
# derived (prompt, completion) pairs — Spark + byte-identical SQL CTE
# --------------------------------------------------------------------------

_LEN_REQS = ("Up to 750 characters", "Between 750 and 1,500 characters",
             "Between 1,500 and 3,000 characters", "Up to 1,200 characters")
_EMOJI_REQS = ("none", "infrequent", "frequent")
_PUNCT_REQS = ("Heavy use of periods and heavy use of commas",
               "Standard punctuation")
_LB_REQS = ("Frequent line breaks", "Fewer, more compact",
            "No line breaks (continuous)", "Moderate line breaks")
_VOCAB_REQS = ("Rich and varied", "Developed", "Normal",
               "Conservative and narrow")
_SS_REQS = ("Short sentences", "Long and complex sentences",
            "A mix of balanced sentence lengths")
_TONE_REQS = ("friendly, cheerful", "professional", "serious")
_DIV_REQS = ("-", "=")
_BULLET_REQS = ("Numbers", "• (dot)", "None specified")

_ANALYSIS_TASKS = (
    "Analyze the following social media post and identify its primary topic.",
    "Extract the core opinion from this social media post and present it "
    "in first person.",
    "Analyze this social media post and identify up to three primary tones.",
    "Classify the structural format of this social media post.",
)


def _pick(d, options, mod):
    expr = F.lit(options[-1])
    for i in range(len(options) - 2, -1, -1):
        expr = F.when(d % mod == i, F.lit(options[i])).otherwise(expr)
    return expr


def _derive_reward_pairs(df):
    # constant tree over (doc_id, text, source): built once per JVM
    # gateway and shared by every query over the derived pairs — the
    # q26 rewards, q24_negatives and q25_chat_template (cached_exprs).
    # A doc with NULL text/source derives a NULL prompt or completion
    # (Spark concat null-propagates) — there is no pair to score, so
    # it is dropped at this boundary rather than letting every reward
    # expression score an absent completion with its own accidental
    # default (r5 degenerate-parity finding; oracle twin: the WHERE in
    # _RP_CTE)
    cols = cached_exprs("q26_pair_cols", _build_pair_cols)
    return df.select(*cols).filter(
        F.col("prompt").isNotNull() & F.col("completion").isNotNull())


def _build_pair_cols():
    d, text = F.col("doc_id"), F.col("text")
    gen_prompt = F.concat(
        F.lit("# Request\nCreate a LinkedIn post that follows the writing "
              "style below on the topic of`: `"),
        F.col("source"),
        F.lit("`\n\n### Key Message\n```\n"),
        F.substring(text, 1, 120),
        F.lit("\n```\n\n## Writing Style\n**Suggested Post Length**: "),
        _pick(d, _LEN_REQS, 4),
        F.lit("\n**Emoji Usage**: "), _pick(d, _EMOJI_REQS, 3),
        F.lit("\n**Punctuation**: "), _pick(d, _PUNCT_REQS, 2),
        F.lit("\n**Line Break Usage**: "), _pick(d, _LB_REQS, 4),
        F.lit("\n**Vocabulary Usage**: "), _pick(d, _VOCAB_REQS, 4),
        F.lit("\n**Sentence Structure**: "), _pick(d, _SS_REQS, 3),
        F.lit("\n**Tone**: "), _pick(d, _TONE_REQS, 3),
        F.lit("\n**Section Divider**: `"), _pick(d, _DIV_REQS, 2),
        F.lit("`\n**Bullet Styles**: "), _pick(d, _BULLET_REQS, 3),
        F.lit("\n"))
    analysis = F.concat(_pick(d, _ANALYSIS_TASKS, 19),
                        F.lit("\n```\n"), text, F.lit("\n```"))
    prompt = F.when(d % 19 <= 3, analysis).otherwise(gen_prompt)

    def extra(mod, s):
        return F.when(d % mod == 0, F.lit("\n" + s)).otherwise(F.lit(""))

    completion = F.concat(
        F.when(d % 17 == 0,
               F.concat(F.lit("1. First point\n2. Second point\n"), text)
               ).otherwise(text),
        extra(5, "----\nNext section"),
        extra(13, "😀 🚀 😀 💡"),
        extra(11, "Visit https://example.com/launch today"),
        extra(23, "Sign up for our newsletter today"),
        extra(29, "John Smith and Mary Jones agree"),
        extra(7, "#Launch #AI #Growth #Data #Cloud"))
    return ["doc_id", prompt.alias("prompt"),
            completion.alias("completion")]


def _sql_pick(options, mod):
    whens = " ".join(f"WHEN {i} THEN '{o}'" for i, o in enumerate(options[:-1]))
    return f"CASE doc_id % {mod} {whens} ELSE '{options[-1]}' END"


_RP_CTE = f"""
    SELECT doc_id,
      CASE WHEN doc_id % 19 <= 3 THEN
        {_sql_pick(_ANALYSIS_TASKS, 19)}
          || chr(10) || '```' || chr(10) || text || chr(10) || '```'
      ELSE
        '# Request' || chr(10)
        || 'Create a LinkedIn post that follows the writing style below '
        || 'on the topic of`: `' || source || '`' || chr(10) || chr(10)
        || '### Key Message' || chr(10) || '```' || chr(10)
        || substr(text, 1, 120) || chr(10) || '```' || chr(10) || chr(10)
        || '## Writing Style' || chr(10)
        || '**Suggested Post Length**: ' || {_sql_pick(_LEN_REQS, 4)} || chr(10)
        || '**Emoji Usage**: ' || {_sql_pick(_EMOJI_REQS, 3)} || chr(10)
        || '**Punctuation**: ' || {_sql_pick(_PUNCT_REQS, 2)} || chr(10)
        || '**Line Break Usage**: ' || {_sql_pick(_LB_REQS, 4)} || chr(10)
        || '**Vocabulary Usage**: ' || {_sql_pick(_VOCAB_REQS, 4)} || chr(10)
        || '**Sentence Structure**: ' || {_sql_pick(_SS_REQS, 3)} || chr(10)
        || '**Tone**: ' || {_sql_pick(_TONE_REQS, 3)} || chr(10)
        || '**Section Divider**: `' || {_sql_pick(_DIV_REQS, 2)} || '`' || chr(10)
        || '**Bullet Styles**: ' || {_sql_pick(_BULLET_REQS, 3)} || chr(10)
      END AS prompt,
      CASE WHEN doc_id % 17 = 0
           THEN '1. First point' || chr(10) || '2. Second point' || chr(10) || text
           ELSE text END
      || CASE WHEN doc_id % 5 = 0
              THEN chr(10) || '----' || chr(10) || 'Next section' ELSE '' END
      || CASE WHEN doc_id % 13 = 0 THEN chr(10) || '😀 🚀 😀 💡' ELSE '' END
      || CASE WHEN doc_id % 11 = 0
              THEN chr(10) || 'Visit https://example.com/launch today' ELSE '' END
      || CASE WHEN doc_id % 23 = 0
              THEN chr(10) || 'Sign up for our newsletter today' ELSE '' END
      || CASE WHEN doc_id % 29 = 0
              THEN chr(10) || 'John Smith and Mary Jones agree' ELSE '' END
      || CASE WHEN doc_id % 7 = 0
              THEN chr(10) || '#Launch #AI #Growth #Data #Cloud' ELSE '' END
        AS completion
    FROM documents
    WHERE text IS NOT NULL
      AND (doc_id % 19 <= 3 OR source IS NOT NULL)
"""

# shared SQL fragments ------------------------------------------------------

_SENTS = ("list_filter(list_transform(string_split_regex(completion,"
          " '[.!?]+'), s -> trim(s)), s -> s <> '')")
# truncated flavor: base.py's text[:5000] guard (pacing / sentiment)
_SENTS_T = ("list_filter(list_transform(string_split_regex("
            "substr(completion, 1, 5000),"
            " '[.!?]+'), s -> trim(s)), s -> s <> '')")
_TLINES = ("list_filter(list_transform(string_split(completion, chr(10)),"
           " l -> trim(l)), l -> l <> '')")

# one CPython re-\s char in RE2 (same set as cleaning.PY_WS_SPLIT_RE2)
_PYS = r"[\s\x{0B}\p{Z}\x{85}\x{1C}-\x{1F}]"


def _pystrip_sql(x: str) -> str:
    return ("regexp_replace(regexp_replace(" + x + ", '^" + _PYS
            + "+', ''), '" + _PYS + "+$', '')")


def _pywords_sql(x: str) -> str:
    """``str.split()`` tokens: unicode-whitespace split, no empties."""
    return ("list_filter(string_split_regex(" + x + ", '" + _PYS
            + "+'), t -> t <> '')")


def _pysplit_sql(x: str) -> str:
    return ("string_split_regex(" + _pystrip_sql(x) + ", '"
            + _PYS + "+')")
_POS_SQL = "[" + ", ".join(f"'{w}'" for w in rw.POSITIVE_WORDS) + "]"
_NEG_SQL = "[" + ", ".join(f"'{w}'" for w in rw.NEGATIVE_WORDS) + "]"

_AGG_WEIGHTS = {"r_length": 2.0, "r_punct": 1.0, "r_linebreaks": 1.0,
                "r_vocab": 1.0, "r_hashtags": 1.5, "r_cjk": 1.0,
                "r_emoji": 1.5}


# --------------------------------------------------------------------------
# q26_rewards_scalar
# --------------------------------------------------------------------------

_SCALAR_SQL = "WITH rp AS (" + _RP_CTE + r"""
), base AS (
    SELECT doc_id, prompt, completion,
        len(completion) AS ln,
        trim(regexp_extract(prompt,
             '\*\*Suggested Post Length\*\*:\s*([^\n]*)', 1)) AS len_req,
        lower(regexp_extract(prompt,
             '\*\*Punctuation\*\*:\s*([^\n]*)', 1)) AS pf,
        regexp_matches(prompt, '\*\*Punctuation\*\*:') AS has_punct,
        lower(regexp_extract(prompt,
             '\*\*Line Break Usage\*\*:\s*([^\n]*)', 1)) AS lbf,
        lower(regexp_extract(prompt,
             '\*\*Vocabulary Usage\*\*:\s*([^\n]*)', 1)) AS vf,
        lower(trim(regexp_extract(prompt,
             '\*\*Emoji Usage\*\*:\s*([^\n]*)', 1))) AS ef,
        regexp_extract_all(lower(completion), '[a-z]+') AS words,
        len(regexp_extract_all(completion, '""" + EMOJI_CLASS + r"""')) AS ec,
        regexp_extract_all(completion, '""" + EMOJI_CLASS + r"""') AS emojis,
        len(regexp_extract_all(string_split(completion, chr(10))[-1],
            '#[A-Za-z0-9_]+')) AS n_tags,
        len(completion) - len(replace(completion, '.', '')) AS c_per,
        len(completion) - len(replace(completion, ',', '')) AS c_com,
        len(completion) - len(replace(completion, '!', '')) AS c_exc,
        len(completion) - len(replace(completion, '?', '')) AS c_que,
        len(completion) - len(replace(completion, ';', '')) AS c_sem,
        len(completion) - len(replace(completion, chr(10), '')) + 1 AS n_lines
    FROM rp
), derived AS (
    SELECT *,
        CASE WHEN regexp_extract(len_req,
                  '(?i)up\s+to\s+(\d+(,\d+)?)\s+characters', 1) = '' THEN NULL
             ELSE replace(regexp_extract(len_req,
                  '(?i)up\s+to\s+(\d+(,\d+)?)\s+characters', 1), ',', '')::BIGINT
        END AS mc,
        CASE WHEN ln = 0 THEN 0.0 ELSE ec::DOUBLE / ln END AS efreq,
        CASE WHEN ln = 0 OR n_lines <= 1 THEN 0.0
             ELSE (n_lines - 1)::DOUBLE / ln * 100 END AS lbr,
        CASE WHEN len(words) = 0 THEN NULL
             ELSE len(list_distinct(words))::DOUBLE / len(words) END AS vr
    FROM base
), cats AS (
    SELECT *,
        CASE WHEN efreq <= 0.0 THEN 'none' WHEN efreq <= 0.0005 THEN 'very low'
             WHEN efreq <= 0.001 THEN 'low' WHEN efreq <= 0.005 THEN 'medium'
             WHEN efreq <= 0.01 THEN 'high' ELSE 'extreme' END AS e_actual,
        CASE WHEN ef IN ('none','very low','low','medium','high','extreme')
                  THEN ef
             WHEN ef = 'infrequent' THEN 'low'
             WHEN ef = 'frequent' THEN 'high'
             ELSE 'medium' END AS e_req
    FROM derived
), scored AS (
    SELECT doc_id,
        CASE WHEN len_req = '' THEN 0.5
          WHEN contains(lower(len_req), 'up to 750') THEN
            CASE WHEN ln <= 750 THEN 0.7 + 0.3 * least(1.0, ln / 750.0)
                 WHEN (ln - 750) / 750.0 <= 0.1 THEN 0.6
                 WHEN (ln - 750) / 750.0 <= 0.25 THEN 0.3 ELSE 0.0 END
          WHEN contains(lower(len_req), 'between 750 and 1,500') THEN
            CASE WHEN ln < 750 THEN 0.7 * ln / 750.0
                 WHEN ln <= 1500 THEN 0.7 + 0.3 * (ln - 750) / 750.0
                 WHEN (ln - 1500) / 1500.0 <= 0.1 THEN 0.6
                 WHEN (ln - 1500) / 1500.0 <= 0.25 THEN 0.3 ELSE 0.0 END
          WHEN contains(lower(len_req), 'between 1,500 and 3,000') THEN
            CASE WHEN ln < 1500 THEN 0.7 * ln / 1500.0
                 WHEN ln <= 3000 THEN 0.7 + 0.3 * (ln - 1500) / 1500.0
                 WHEN (ln - 3000) / 3000.0 <= 0.1 THEN 0.6
                 WHEN (ln - 3000) / 3000.0 <= 0.25 THEN 0.3 ELSE 0.0 END
          WHEN mc IS NULL THEN 0.5
          WHEN ln <= mc THEN 1.0
          WHEN (ln - mc)::DOUBLE / mc <= 0.1 THEN 0.7
          WHEN (ln - mc)::DOUBLE / mc <= 0.25 THEN 0.4
          ELSE 0.0 END AS r_length,
        CASE WHEN NOT has_punct THEN 0.5 WHEN ln = 0 THEN 0.3 ELSE (
            (CASE WHEN contains(pf, 'heavy use of periods') THEN
                CASE WHEN c_per::DOUBLE/ln >= 0.03 THEN 1.0
                     WHEN c_per::DOUBLE/ln >= 0.02 THEN 0.7
                     WHEN c_per::DOUBLE/ln >= 0.01 THEN 0.4 ELSE 0.1 END
              ELSE
                CASE WHEN c_per::DOUBLE/ln >= 0.01 AND c_per::DOUBLE/ln <= 0.02 THEN 1.0
                     WHEN c_per::DOUBLE/ln < 0.01 THEN 0.6
                     WHEN c_per::DOUBLE/ln < 0.03 THEN 0.8 ELSE 0.4 END END)
          + (CASE WHEN contains(pf, 'heavy use of commas') THEN
                CASE WHEN c_com::DOUBLE/ln >= 0.03 THEN 1.0
                     WHEN c_com::DOUBLE/ln >= 0.02 THEN 0.7
                     WHEN c_com::DOUBLE/ln >= 0.01 THEN 0.4 ELSE 0.1 END
              ELSE
                CASE WHEN c_com::DOUBLE/ln >= 0.01 AND c_com::DOUBLE/ln <= 0.02 THEN 1.0
                     WHEN c_com::DOUBLE/ln < 0.01 THEN 0.6
                     WHEN c_com::DOUBLE/ln < 0.03 THEN 0.8 ELSE 0.4 END END)
          + (CASE WHEN contains(pf, 'heavy use of exclamation') THEN
                CASE WHEN c_exc::DOUBLE/ln >= 0.01 THEN 1.0
                     WHEN c_exc::DOUBLE/ln >= 0.005 THEN 0.7
                     WHEN c_exc::DOUBLE/ln >= 0.001 THEN 0.4 ELSE 0.1 END
              ELSE
                CASE WHEN c_exc::DOUBLE/ln >= 0.001 AND c_exc::DOUBLE/ln <= 0.005 THEN 1.0
                     WHEN c_exc::DOUBLE/ln < 0.001 THEN 0.6
                     WHEN c_exc::DOUBLE/ln < 0.01 THEN 0.8 ELSE 0.4 END END)
          + (CASE WHEN contains(pf, 'heavy use of question') THEN
                CASE WHEN c_que::DOUBLE/ln >= 0.01 THEN 1.0
                     WHEN c_que::DOUBLE/ln >= 0.005 THEN 0.7
                     WHEN c_que::DOUBLE/ln >= 0.001 THEN 0.4 ELSE 0.1 END
              ELSE
                CASE WHEN c_que::DOUBLE/ln >= 0.001 AND c_que::DOUBLE/ln <= 0.005 THEN 1.0
                     WHEN c_que::DOUBLE/ln < 0.001 THEN 0.6
                     WHEN c_que::DOUBLE/ln < 0.01 THEN 0.8 ELSE 0.4 END END)
          + (CASE WHEN contains(pf, 'heavy use of semicolons') THEN
                CASE WHEN c_sem::DOUBLE/ln >= 0.002 THEN 1.0
                     WHEN c_sem::DOUBLE/ln >= 0.001 THEN 0.7
                     WHEN c_sem::DOUBLE/ln >= 0.0005 THEN 0.4 ELSE 0.1 END
              ELSE
                CASE WHEN c_sem::DOUBLE/ln >= 0.0005 AND c_sem::DOUBLE/ln <= 0.001 THEN 1.0
                     WHEN c_sem::DOUBLE/ln < 0.0005 THEN 0.6
                     WHEN c_sem::DOUBLE/ln < 0.002 THEN 0.8 ELSE 0.4 END END)
        ) / 5 END AS r_punct,
        CASE
          WHEN NOT (contains(lbf,'frequent') OR contains(lbf,'fewer')
                    OR contains(lbf,'compact') OR contains(lbf,'no ')
                    OR contains(lbf,'continuous') OR contains(lbf,'moderate'))
               THEN 0.5
          WHEN contains(lbf, 'frequent') THEN
            CASE WHEN lbr > 2 THEN 1.0 WHEN lbr > 1.5 THEN 0.8
                 WHEN lbr > 1 THEN 0.6 WHEN lbr > 0.5 THEN 0.4 ELSE 0.2 END
          WHEN contains(lbf,'fewer') OR contains(lbf,'compact') THEN
            CASE WHEN lbr > 0.2 AND lbr <= 0.8 THEN 1.0
                 WHEN (lbr > 0 AND lbr <= 0.2) OR (lbr > 0.8 AND lbr <= 1.2) THEN 0.7
                 WHEN lbr > 1.2 THEN 0.3 ELSE 0.5 END
          WHEN contains(lbf,'no ') OR contains(lbf,'continuous') THEN
            CASE WHEN lbr = 0 THEN 1.0 WHEN lbr <= 0.2 THEN 0.7
                 WHEN lbr <= 0.5 THEN 0.4 ELSE 0.2 END
          ELSE
            CASE WHEN lbr > 0.8 AND lbr <= 1.5 THEN 1.0
                 WHEN (lbr > 0.5 AND lbr <= 0.8) OR (lbr > 1.5 AND lbr <= 2) THEN 0.8
                 WHEN (lbr > 0.2 AND lbr <= 0.5) OR (lbr > 2 AND lbr <= 2.5) THEN 0.5
                 ELSE 0.3 END
        END AS r_linebreaks,
        CASE
          WHEN NOT (contains(vf,'rich') OR contains(vf,'developed')
                    OR contains(vf,'normal') OR contains(vf,'conservative')
                    OR contains(vf,'narrow')) THEN 0.5
          WHEN vr IS NULL THEN 0.2
          WHEN contains(vf,'rich') THEN
            CASE WHEN vr > 0.5 THEN 1.0 WHEN vr > 0.4 THEN 0.8
                 WHEN vr > 0.3 THEN 0.5 ELSE 0.3 END
          WHEN contains(vf,'developed') THEN
            CASE WHEN vr > 0.35 AND vr <= 0.5 THEN 1.0
                 WHEN (vr > 0.3 AND vr <= 0.35) OR (vr > 0.5 AND vr <= 0.6) THEN 0.8
                 WHEN (vr > 0.25 AND vr <= 0.3) OR vr > 0.6 THEN 0.5 ELSE 0.3 END
          WHEN contains(vf,'normal') THEN
            CASE WHEN vr > 0.25 AND vr <= 0.35 THEN 1.0
                 WHEN (vr > 0.2 AND vr <= 0.25) OR (vr > 0.35 AND vr <= 0.4) THEN 0.8
                 WHEN (vr > 0.15 AND vr <= 0.2) OR (vr > 0.4 AND vr <= 0.5) THEN 0.5
                 ELSE 0.3 END
          ELSE
            CASE WHEN vr <= 0.25 THEN 1.0 WHEN vr <= 0.3 THEN 0.8
                 WHEN vr <= 0.35 THEN 0.5 ELSE 0.3 END
        END AS r_vocab,
        CASE WHEN n_tags <= 3 THEN 1.0
             ELSE greatest(0.0, 1.0 - 0.2 * (n_tags - 3)) END AS r_hashtags,
        CASE WHEN regexp_matches(completion, '[一-鿿]') THEN 0.0
             ELSE 1.0 END AS r_cjk,
        CASE WHEN ef = '' THEN 0.5
             WHEN e_actual = e_req THEN 1.0
             WHEN abs((CASE e_req WHEN 'none' THEN 0 WHEN 'very low' THEN 1
                       WHEN 'low' THEN 2 WHEN 'medium' THEN 3 WHEN 'high' THEN 4
                       ELSE 5 END)
                    - (CASE e_actual WHEN 'none' THEN 0 WHEN 'very low' THEN 1
                       WHEN 'low' THEN 2 WHEN 'medium' THEN 3 WHEN 'high' THEN 4
                       ELSE 5 END)) = 1 THEN 0.7
             WHEN abs((CASE e_req WHEN 'none' THEN 0 WHEN 'very low' THEN 1
                       WHEN 'low' THEN 2 WHEN 'medium' THEN 3 WHEN 'high' THEN 4
                       ELSE 5 END)
                    - (CASE e_actual WHEN 'none' THEN 0 WHEN 'very low' THEN 1
                       WHEN 'low' THEN 2 WHEN 'medium' THEN 3 WHEN 'high' THEN 4
                       ELSE 5 END)) = 2 THEN 0.4
             ELSE 0.0 END AS r_emoji,
        CASE WHEN ef = '' THEN 0.5 ELSE (
          CASE WHEN (CASE WHEN ef = 'none' THEN 'none'
                          WHEN ef IN ('infrequent','very low','low') THEN 'infrequent'
                          WHEN ef IN ('frequent','medium','high','extreme') THEN 'frequent'
                          ELSE 'infrequent' END)
                  = (CASE WHEN e_actual = 'none' THEN 'none'
                          WHEN e_actual IN ('very low','low') THEN 'infrequent'
                          ELSE 'frequent' END) THEN 1.0
               WHEN ef = 'none' THEN
                 CASE WHEN e_actual IN ('very low','low') THEN 0.5 ELSE 0.0 END
               WHEN ef IN ('infrequent','very low','low') THEN
                 CASE WHEN e_actual = 'none' THEN 0.5 ELSE 0.3 END
               ELSE
                 CASE WHEN e_actual IN ('very low','low') THEN 0.7 ELSE 0.0 END
          END) END AS r_emoji_coarse,
        CASE WHEN len(emojis) = 0 THEN 0.0
             WHEN len(list_distinct(emojis))::DOUBLE / len(emojis) >= 0.9 THEN 1.0
             WHEN len(list_distinct(emojis))::DOUBLE / len(emojis) >= 0.7 THEN 0.8
             WHEN len(list_distinct(emojis))::DOUBLE / len(emojis) >= 0.5 THEN 0.6
             ELSE 0.4 END AS r_emoji_variety,
        CASE WHEN contains(lower(prompt), 'create a linkedin post that') THEN 0
             WHEN contains(lower(prompt), 'analyze the following social media post and identify its primary topic') THEN 1
             WHEN contains(lower(prompt), 'extract the core opinion from this social media post and present it in first person') THEN 2
             WHEN contains(lower(prompt), 'analyze this social media post and identify up to three primary tones') THEN 3
             WHEN contains(lower(prompt), 'classify the structural format of this social media post') THEN 4
             ELSE 5 END AS scenario_id
    FROM cats
)
SELECT doc_id,
       round(r_length, 6) AS r_length, round(r_punct, 6) AS r_punct,
       round(r_linebreaks, 6) AS r_linebreaks, round(r_vocab, 6) AS r_vocab,
       round(r_hashtags, 6) AS r_hashtags, round(r_cjk, 6) AS r_cjk,
       round(r_emoji, 6) AS r_emoji,
       round(r_emoji_coarse, 6) AS r_emoji_coarse,
       round(r_emoji_variety, 6) AS r_emoji_variety,
       scenario_id,
       round((2.0*r_length + r_punct + r_linebreaks + r_vocab
              + 1.5*r_hashtags + r_cjk + 1.5*r_emoji) / 9.0, 6) AS r_aggregate
FROM scored
"""


@register("q26_rewards_scalar", bench=True, oracle=_SCALAR_SQL)
def q26_rewards_scalar(spark, sf_dir):
    """R1/R2, R6, R7, R15, R16, R17, R3, R4, R5, R20 + weighted
    aggregate R19 over derived pairs, in TWO codegen units.

    Janino refuses methods > 64 KB of bytecode, and a projection's
    expressions live in whole-stage-codegen local variables, so Spark
    cannot auto-split them into helper methods
    (``spark.sql.codegen.methodSplitThreshold`` is measured to be a
    no-op here).  One fused projection of all ten rewards therefore
    failed to compile and ran interpreted (VERDICT r3 #1).  The fix is
    structural: place the single cache boundary so that each side is a
    reward subset that compiles on its own (measured under
    ``spark.sql.codegen.fallback=false``, which turns any compile
    failure into a hard error — pinned by
    tests/test_plans.py::test_q26_rewards_scalar_codegen_compiles):

      unit 1 (built into the cache): scan -> derive pairs -> shared
        primitives -> the six text/misc rewards + scenario id;
      unit 2 (over the InMemoryTableScan): the emoji trio R3/R4/R5 —
        the deepest when-chains — plus rounding and the R19 weighted
        aggregate.

    Primitives (style-field regexes and the giant emoji
    codepoint-class regexp_extract_all) are computed once per row
    inside unit 1.
    """
    stages = cached_exprs("q26_scalar_stages", _build_scalar_stage_cols)
    pairs = _derive_reward_pairs(_docs(spark, sf_dir))
    # The cache carries ONLY what unit 2 reads — the emoji primitives
    # and an int completion length, never the pair text itself — so
    # the cached footprint is O(rows * bytes-of-primitives), not
    # O(corpus bytes).
    stage1 = pairs.select(*stages["stage1"]).persist()
    return stage1.select(*stages["scored"]).select(*stages["final"])


_TEXT_REWARDS = ["r_length", "r_punct", "r_linebreaks", "r_vocab",
                 "r_hashtags", "r_cjk"]


def _build_scalar_stage_cols():
    """Constant Column trees for q26_rewards_scalar's three stages
    (built once per gateway, see cached_exprs).

    The cache carries the emoji COUNTS (total + distinct), not the
    match array: R3/R4 need only the count and R5's variety ratio is
    re-expressed as integer cross-multiplication (10*distinct >= 9*n
    etc. — exact for BIGINT-range counts), so the cached row is all
    ints + one short string."""
    p, c = F.col("prompt"), F.col("completion")
    em = F.regexp_extract_all(c, F.lit(EMOJI_CLASS), 0)
    stage1 = [
        "doc_id",
        F.length(c).alias("__c_len"),
        F.lower(rw.style_field(p, "Emoji Usage")).alias("__f_emoji"),
        F.size(em).alias("__ec"),
        F.size(F.array_distinct(em)).alias("__ecd"),
        rw.precise_post_length(
            p, c, req=F.trim(rw.style_field(p, "Suggested Post Length"))
        ).alias("r_length"),
        rw.punctuation_usage(p, c).alias("r_punct"),
        rw.line_break_usage(p, c).alias("r_linebreaks"),
        rw.vocabulary_usage(p, c).alias("r_vocab"),
        rw.hashtag_limit(c).alias("r_hashtags"),
        rw.chinese_character_guard(c).alias("r_cjk"),
        rw.scenario_type(p).alias("scenario_id"),
    ]
    ec, ecd, cl = F.col("__ec"), F.col("__ecd"), F.col("__c_len")
    variety = (F.when(ec == 0, F.lit(0.0))
                .when(10 * ecd >= 9 * ec, F.lit(1.0))
                .when(10 * ecd >= 7 * ec, F.lit(0.8))
                .when(2 * ecd >= ec, F.lit(0.6))
                .otherwise(F.lit(0.4)))
    scored = [
        "doc_id", *_TEXT_REWARDS, "scenario_id",
        rw.enhanced_emoji_usage(p, c, field=F.col("__f_emoji"),
                                emoji_count=ec,
                                completion_len=cl).alias("r_emoji"),
        rw.emoji_usage_coarse(p, c, field=F.col("__f_emoji"),
                              emoji_count=ec,
                              completion_len=cl).alias("r_emoji_coarse"),
        variety.alias("r_emoji_variety"),
    ]
    agg = rw.aggregate_rewards(
        {k: F.col(k) for k in _TEXT_REWARDS + ["r_emoji"]}, _AGG_WEIGHTS)
    final = [
        "doc_id",
        *[F.round(F.col(name), 6).alias(name) for name in _TEXT_REWARDS],
        F.round(F.col("r_emoji"), 6).alias("r_emoji"),
        F.round(F.col("r_emoji_coarse"), 6).alias("r_emoji_coarse"),
        F.round(F.col("r_emoji_variety"), 6).alias("r_emoji_variety"),
        "scenario_id",
        F.round(agg, 6).alias("r_aggregate"),
    ]
    return {"stage1": stage1, "scored": scored, "final": final}


# --------------------------------------------------------------------------
# q26_rewards_textual — R9 sentence structure, R10 bullets, R11 dividers
# --------------------------------------------------------------------------

_TEXTUAL_SQL = "WITH rp AS (" + _RP_CTE + r"""
), base AS (
    SELECT doc_id, prompt, completion,
        """ + _SENTS + r""" AS sents,
        """ + _TLINES + r""" AS tlines,
        lower(regexp_extract(prompt,
             '\*\*Sentence Structure\*\*:""" + _PYS + r"""*([^\n]*)',
             1)) AS ssf,
        CASE WHEN regexp_extract(prompt,
                  '(?i)Bullet\s+Styles?:\s*([^\n]*)', 1) = ''
             THEN lower(trim(regexp_extract(prompt,
                  '(?i)\*\*Bullet Styles\*\*:\s*([^\n]*)', 1)))
             ELSE lower(trim(regexp_extract(prompt,
                  '(?i)Bullet\s+Styles?:\s*([^\n]*)', 1))) END AS binfo,
        regexp_extract(prompt,
             '\*\*Section Divider\*\*:\s*`([^`]+)`', 1) AS div_req,
        len(regexp_extract_all(completion, '""" + EMOJI_CLASS + r"""')) AS ec,
        len(list_filter(list_transform(string_split(completion,
            chr(10) || chr(10)),
            p -> """ + _pystrip_sql("p") + r"""), p -> p <> '')) AS n_paras
    FROM rp
), stats AS (
    SELECT *,
        len(sents) AS ns,
        list_transform(sents,
            s -> len(""" + _pywords_sql("s") + r""")) AS slens,
        list_filter(list_transform(tlines,
            l -> CASE WHEN regexp_matches(l, '^\s*\d+[.)]\s+') THEN 'Numbers'
                      WHEN regexp_matches(l, '^\s*[a-zA-Z]+[.)]\s+') THEN 'Letters'
                      WHEN regexp_matches(l, '^\s*[^\w\s]') THEN substr(l, 1, 1)
                 END), x -> x IS NOT NULL) AS blabels,
        list_filter(list_transform(tlines,
            l -> CASE WHEN len(l) >= 3
                        AND l = repeat(substr(l, 1, 1), len(l))
                      THEN substr(l, 1, 1)
                      WHEN len(l) >= 5 AND substr(l, 1, 1) = substr(l, 3, 1)
                        AND regexp_matches(l, '^[^\s]( [^\s])+$')
                      THEN substr(l, 1, 1)
                 END), x -> x IS NOT NULL) AS dchars
    FROM base
), derived AS (
    SELECT *,
        CASE WHEN ns = 0 THEN NULL
             ELSE list_sum(slens)::DOUBLE / ns END AS avg_len,
        CASE WHEN ns = 0 THEN NULL
             ELSE list_sum(list_transform(slens, x -> x * x))::DOUBLE / ns
                  - (list_sum(slens)::DOUBLE / ns)
                    * (list_sum(slens)::DOUBLE / ns) END AS var_len,
        CASE WHEN len(blabels) = 0 THEN NULL
             WHEN len(list_distinct(blabels)) > 1 THEN 'Mixed Bullet Styles'
             ELSE list_distinct(blabels)[1] END AS detected
    FROM stats
)
SELECT doc_id,
    round(CASE
      WHEN NOT (contains(ssf,'short') AND contains(ssf,'sentences'))
       AND NOT (contains(ssf,'long') AND contains(ssf,'complex'))
       AND NOT (contains(ssf,'mix') OR contains(ssf,'balanced')) THEN
        CASE WHEN n_paras >= 2 AND ns >= 2 THEN 0.9
             WHEN ns >= 2 THEN 0.7 ELSE 0.5 END
      WHEN ns < 2 THEN 0.3
      WHEN contains(ssf,'short') AND contains(ssf,'sentences') THEN
        CASE WHEN avg_len < 10 THEN 1.0 WHEN avg_len < 15 THEN 0.7
             WHEN avg_len < 20 THEN 0.4 ELSE 0.2 END
      WHEN contains(ssf,'long') AND contains(ssf,'complex') THEN
        CASE WHEN avg_len > 20 THEN 1.0 WHEN avg_len > 15 THEN 0.7
             WHEN avg_len > 10 THEN 0.4 ELSE 0.2 END
      ELSE
        CASE WHEN avg_len >= 10 AND avg_len <= 20 AND var_len > 20 THEN 1.0
             WHEN avg_len >= 10 AND avg_len <= 20 THEN 0.7
             WHEN var_len > 20 THEN 0.6 ELSE 0.4 END
    END, 6) AS r_structure,
    round(CASE
      WHEN NOT (contains(binfo,'•') OR contains(binfo,'dot')
                OR contains(binfo,'emoji') OR contains(binfo,'numbers')
                OR contains(binfo,'letters')) THEN
        CASE WHEN detected IS NOT NULL THEN 1.0 ELSE 0.0 END
      WHEN detected IS NULL THEN 0.0
      ELSE greatest(
        CASE WHEN (contains(binfo,'•') OR contains(binfo,'dot'))
               AND (detected = '•' OR contains(completion,'•')) THEN 1.0 ELSE 0.0 END,
        CASE WHEN contains(binfo,'differing emojis') THEN 0.8 ELSE 0.0 END,
        CASE WHEN contains(binfo,'emoji') AND ec > 0 THEN 0.7 ELSE 0.0 END,
        CASE WHEN contains(binfo,'numbers')
               AND contains(lower(coalesce(detected,'')),'numbers') THEN 0.9 ELSE 0.0 END,
        CASE WHEN contains(binfo,'letters')
               AND contains(lower(coalesce(detected,'')),'letters') THEN 0.9 ELSE 0.0 END)
    END, 6) AS r_bullets,
    round(CASE WHEN div_req = '' THEN 0.5
               WHEN len(dchars) = 0 THEN 0.0
               WHEN list_contains(dchars, div_req) THEN 1.0
               ELSE 0.3 END, 6) AS r_dividers
FROM derived
"""


@register("q26_rewards_textual", oracle=_TEXTUAL_SQL)
def q26_rewards_textual(spark, sf_dir):
    """R9 sentence-structure, R10 bullet-style, R11 divider rewards."""
    pairs = _derive_reward_pairs(_docs(spark, sf_dir))
    p, c = F.col("prompt"), F.col("completion")
    return pairs.select(
        "doc_id",
        F.round(rw.sentence_structure(p, c), 6).alias("r_structure"),
        F.round(rw.bullet_style(p, c), 6).alias("r_bullets"),
        F.round(rw.divider_style(p, c), 6).alias("r_dividers"))


# --------------------------------------------------------------------------
# q26_rewards_sentiment — arc/pacing + R8 tone, R12 narrative, R14 semantic
# --------------------------------------------------------------------------

_SENTIMENT_SQL = "WITH rp AS (" + _RP_CTE + r"""
), base AS (
    SELECT doc_id, prompt, completion,
        """ + _SENTS + r""" AS sents,
        """ + _SENTS_T + r""" AS sents_t,
        CASE WHEN regexp_extract(prompt,
                  '(?i)\*\*Tone\*\*: """ + _PYS + r"""*([^\n]+)', 1) = ''
             THEN regexp_extract(prompt,
                  '(?i)-""" + _PYS + "*Tone:" + _PYS + r"""*([^\n]+)', 1)
             ELSE regexp_extract(prompt,
                  '(?i)\*\*Tone\*\*: """ + _PYS + r"""*([^\n]+)', 1)
             END AS tone_raw
    FROM rp
), stats AS (
    SELECT *, len(sents) AS ns, len(sents_t) AS nst,
        greatest(1, len(sents_t) // 10) AS step,
        list_transform(sents_t,
            s -> len(""" + _pywords_sql("s") + r""")) AS slens
    FROM base
), sampled AS (
    SELECT *,
        CASE WHEN nst > 10
             THEN list_filter(sents_t, (x, i) -> (i - 1) % step = 0)
             ELSE sents_t END AS ssents
    FROM stats
), scored AS (
    SELECT *,
        list_transform(ssents, s ->
            least(1.0, greatest(-1.0,
                5.0 * (len(list_filter(""" + _pywords_sql("lower(s)") + r""",
                           t -> list_contains(""" + _POS_SQL + r""", t)))
                     - len(list_filter(""" + _pywords_sql("lower(s)") + r""",
                           t -> list_contains(""" + _NEG_SQL + r""", t))))::DOUBLE
                / greatest(len(""" + _pywords_sql("lower(s)") + r"""), 1)))
        ) AS scores
    FROM sampled
), arcs AS (
    SELECT *, len(scores) AS nsc,
        CASE WHEN len(scores) < 3 THEN 'Neutral'
             WHEN scores[1] < scores[len(scores)//2 + 1]
              AND scores[len(scores)//2 + 1] < scores[len(scores)]
              AND scores[len(scores)] > 0.2 THEN 'Rising'
             WHEN scores[1] > scores[len(scores)//2 + 1]
              AND scores[len(scores)//2 + 1] > scores[len(scores)]
              AND scores[len(scores)] < -0.2 THEN 'Falling'
             WHEN abs(scores[len(scores)] - scores[1]) < 0.1
              AND abs(scores[len(scores)//2 + 1]) < 0.1 THEN 'Flat'
             ELSE 'Variable' END AS arc,
        CASE WHEN nst < 3 THEN 'Short/Not Enough Data'
             WHEN sqrt(list_sum(list_transform(slens, x -> x*x))::DOUBLE / nst
                       - (list_sum(slens)::DOUBLE/nst)*(list_sum(slens)::DOUBLE/nst))
                  > 7 THEN 'Variable'
             WHEN list_sum(slens)::DOUBLE / nst < 10 THEN 'Fast'
             WHEN list_sum(slens)::DOUBLE / nst > 20 THEN 'Slow'
             ELSE 'Moderate' END AS pacing
    FROM scored
), toned AS (
    SELECT *,
        list_filter(list_transform(string_split(tone_raw, ','),
                    t -> lower(""" + _pystrip_sql("t") + r""")),
                    t -> t <> '') AS tones
    FROM arcs
)
SELECT doc_id, arc, pacing,
    round(CASE WHEN len(tones) = 0 THEN 0.5 ELSE
        list_sum(list_transform(tones, t ->
            CASE WHEN (CASE WHEN list_contains(['friendly','cheerful','charming'], t)
                            THEN 'positive'
                            WHEN list_contains(['serious','rebellious','sarcastic'], t)
                            THEN 'negative' ELSE 'neutral' END) = 'positive'
                 THEN CASE WHEN arc = 'Rising' THEN 1.0 ELSE 0.6 END
                 WHEN (CASE WHEN list_contains(['friendly','cheerful','charming'], t)
                            THEN 'positive'
                            WHEN list_contains(['serious','rebellious','sarcastic'], t)
                            THEN 'negative' ELSE 'neutral' END) = 'negative'
                 THEN CASE WHEN arc = 'Falling' THEN 1.0 ELSE 0.6 END
                 ELSE CASE WHEN arc IN ('Flat','Neutral') THEN 1.0 ELSE 0.6 END
            END)) / len(tones) END, 6) AS r_tone,
    round((CASE WHEN pacing <> 'Short/Not Enough Data' THEN 0.4 ELSE 0.0 END)
          + (CASE WHEN arc <> 'Neutral' THEN 0.3 ELSE 0.0 END)
          + 0.3, 6) AS r_narrative,
    round(CASE WHEN ns < 3 THEN CASE WHEN ns >= 1 THEN 0.6 ELSE 0.5 END
          ELSE least(1.0, greatest(0.0, 0.5
               + (CASE WHEN pacing <> 'Short/Not Enough Data' THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN arc <> 'Neutral' THEN 0.25 ELSE 0.0 END)))
          END, 6) AS r_semantic
FROM toned
"""


@register("q26_rewards_sentiment", oracle=_SENTIMENT_SQL)
def q26_rewards_sentiment(spark, sf_dir):
    """Sentiment arc + pacing labels and the rewards built on them:
    R8 tone alignment, R12 narrative structure, R14 semantic
    coherence.  The sentence scores and then the labels are projected
    once each: repeated label trees mint fresh lambda variables that
    Catalyst cannot merge, the arc reads the scores 19 times and the
    rewards read each label more than once, so CollapseProject keeps
    each projection apart."""
    c = F.col("completion")
    labels = _derive_reward_pairs(_docs(spark, sf_dir)).select(
        "doc_id", "prompt", "completion",
        rw.sentiment_scores(c).alias("scores")).select(
        "doc_id", "prompt",
        rw.sentiment_arc(F.col("scores")).alias("arc"),
        rw.pacing(c).alias("pacing"),
        F.size(rw.sentences(c)).alias("n_sents"))
    arc, pace = F.col("arc"), F.col("pacing")
    return labels.select(
        "doc_id", "arc", "pacing",
        F.round(rw.tone_fit(F.col("prompt"), arc), 6).alias("r_tone"),
        F.round(rw.narrative_fit(arc, pace), 6).alias("r_narrative"),
        F.round(rw.coherence_fit(F.col("n_sents"), arc, pace),
                6).alias("r_semantic"))


# --------------------------------------------------------------------------
# q26_fabrication — R18
# --------------------------------------------------------------------------

_URL_SQL = (r"http[s]?://(?:[a-zA-Z]|[0-9]|[$-_@.&+]|[!*(),]"
            r"|(?:%[0-9a-fA-F][0-9a-fA-F]))+")

# first-char class: RE2 \p{Lu} is MEASURED exactly equal to CPython's
# isalpha-and-isupper set (scripts/unicode_skew.py; the engine's Java
# side needs the JAVA_UPPER_EXTRA correction, RE2 needs none)
_CAP_PAIRS = r"""list_filter(list_transform(
        range(1, greatest(len({w}), 1)),
        i -> CASE WHEN regexp_matches({w}[i], '^\p{{Lu}}.')
                   AND regexp_matches({w}[i+1], '^\p{{Lu}}.')
                  THEN {w}[i] || ' ' || {w}[i+1] END),
        x -> x IS NOT NULL)"""

# CPython-re-faithful extraction (unicode \s, str.strip) — mirrors
# fabrication_guard's (?iU)/py_strip forms (helpers live in the
# shared-fragments section above)
_TOPIC_RAW = ("regexp_extract(prompt, '(?i)on the topic of`?:?"
              + _PYS + r"*`?([^`\n]+)', 1)")
_KEY_RAW = ("regexp_extract(prompt, '(?is)### Key Message"
            + _PYS + r"*```(.*?)```', 1)")


_FAB_SQL = "WITH rp AS (" + _RP_CTE + r"""
), base AS (
    SELECT doc_id, prompt, completion,
        """ + _pystrip_sql(_TOPIC_RAW) + r""" AS topic,
        """ + _pystrip_sql(_KEY_RAW) + r""" AS key_msg,
        regexp_extract_all(completion, '""" + _URL_SQL + r"""') AS urls_c,
        regexp_extract_all(prompt, '""" + _URL_SQL + r"""') AS urls_p,
        """ + _pysplit_sql("completion") + r""" AS cw,
        """ + _pysplit_sql(_TOPIC_RAW) + r""" AS tw,
        """ + _pysplit_sql(_KEY_RAW) + r""" AS kw
    FROM rp
), pairs AS (
    SELECT *,
        """ + _CAP_PAIRS.format(w="cw") + r""" AS cpairs,
        list_transform(""" + _CAP_PAIRS.format(w="tw") + r"""
            || """ + _CAP_PAIRS.format(w="kw") + r""",
            x -> lower(x)) AS known
    FROM base
), pens AS (
    SELECT doc_id,
        CASE WHEN len(urls_c) = 0 THEN 0.0
             WHEN len(urls_p) = 0 THEN 0.7
             WHEN len(list_intersect(urls_c, urls_p)) = 0 THEN 0.5
             ELSE 0.0 END AS url_pen,
        least(0.5, 0.1 * len(list_filter(cpairs,
              nm -> NOT list_contains(known, lower(nm))))) AS name_pen,
        CASE WHEN (regexp_matches(completion, '(?i)(sign\s*up|subscribe|join).{0,30}(newsletter)')
                   AND NOT regexp_matches(topic, '(?i)(sign\s*up|subscribe|join).{0,30}(newsletter)')
                   AND NOT regexp_matches(key_msg, '(?i)(sign\s*up|subscribe|join).{0,30}(newsletter)'))
               OR (regexp_matches(completion, '(?i)(register|join).{0,30}(webinar|event)')
                   AND NOT regexp_matches(topic, '(?i)(register|join).{0,30}(webinar|event)')
                   AND NOT regexp_matches(key_msg, '(?i)(register|join).{0,30}(webinar|event)'))
               OR (regexp_matches(completion, '(?i)link in (bio|profile|comments)')
                   AND NOT regexp_matches(topic, '(?i)link in (bio|profile|comments)')
                   AND NOT regexp_matches(key_msg, '(?i)link in (bio|profile|comments)'))
             THEN 0.3 ELSE 0.0 END AS news_pen,
        CASE WHEN (regexp_matches(completion, '(?i)link in (bio|comments|description)')
                   AND NOT regexp_matches(topic, '(?i)link in (bio|comments|description)')
                   AND NOT regexp_matches(key_msg, '(?i)link in (bio|comments|description)'))
               OR (regexp_matches(completion, '(?i)dm me for')
                   AND NOT regexp_matches(topic, '(?i)dm me for')
                   AND NOT regexp_matches(key_msg, '(?i)dm me for'))
               OR (regexp_matches(completion, '(?i)email me at')
                   AND NOT regexp_matches(topic, '(?i)email me at')
                   AND NOT regexp_matches(key_msg, '(?i)email me at'))
               OR (regexp_matches(completion, '(?i)call (me|us) at')
                   AND NOT regexp_matches(topic, '(?i)call (me|us) at')
                   AND NOT regexp_matches(key_msg, '(?i)call (me|us) at'))
               OR (regexp_matches(completion, '(?i)limited time offer')
                   AND NOT regexp_matches(topic, '(?i)limited time offer')
                   AND NOT regexp_matches(key_msg, '(?i)limited time offer'))
               OR (regexp_matches(completion, '(?i)exclusive (deal|offer)')
                   AND NOT regexp_matches(topic, '(?i)exclusive (deal|offer)')
                   AND NOT regexp_matches(key_msg, '(?i)exclusive (deal|offer)'))
             THEN 0.4 ELSE 0.0 END AS act_pen
    FROM pairs
)
SELECT doc_id,
       round(greatest(0.0, 1.0 - (url_pen + name_pen + news_pen + act_pen)),
             6) AS r_fabrication
FROM pens
"""


@register("q26_fabrication", oracle=_FAB_SQL)
def q26_fabrication(spark, sf_dir):
    """R18 fabrication-detection reward (URL / new-name / promo-phrase
    penalties)."""
    pairs = _derive_reward_pairs(_docs(spark, sf_dir))
    return pairs.select(
        "doc_id",
        F.round(rw.fabrication_guard(F.col("prompt"), F.col("completion")),
                6).alias("r_fabrication"))


# --------------------------------------------------------------------------
# q17_narrative_structure — stage-17 main-path T7/T8/T10 variants
# --------------------------------------------------------------------------

_SENTS5K = ("list_filter(list_transform(string_split_regex("
            "substr(text, 1, 5000), '[.!?]+'), s -> trim(s)), s -> s <> '')")

_NARR_SQL = r"""
WITH base AS (
    SELECT doc_id, """ + _SENTS5K + r""" AS sents FROM documents
), stats AS (
    SELECT doc_id, len(sents) AS ns,
        list_transform(sents, s -> len(""" + _pywords_sql("s") + r""")) AS slens,
        CASE WHEN len(sents) > 10
             THEN list_filter(sents,
                  (x, i) -> (i - 1) % greatest(1, len(sents) // 10) = 0)
             ELSE sents END AS ssents
    FROM base
), scored AS (
    SELECT doc_id, ns, slens,
        list_transform(ssents, s ->
            least(1.0, greatest(-1.0,
                5.0 * (len(list_filter(string_split_regex(lower(s), '\s+'),
                           t -> list_contains(""" + _POS_SQL + r""", t)))
                     - len(list_filter(string_split_regex(lower(s), '\s+'),
                           t -> list_contains(""" + _NEG_SQL + r""", t))))::DOUBLE
                / greatest(len(string_split_regex(lower(s), '\s+')), 1)))
        ) AS scores
    FROM stats
)
SELECT doc_id,
    CASE WHEN ns > 0 THEN 'Introduction/Setup' END AS flow_head,
    ns AS n_flow,
    CASE WHEN ns < 3 THEN 'Short/Not Enough Data'
         WHEN list_sum(slens)::DOUBLE / ns < 10 THEN 'Fast'
         WHEN list_sum(slens)::DOUBLE / ns > 20 THEN 'Slow'
         ELSE 'Moderate' END AS pacing,
    CASE WHEN len(scores) < 3 THEN 'Short/Not Enough Data for Arc'
         WHEN list_sum(scores) / len(scores) > 0.2 THEN 'Positive'
         WHEN list_sum(scores) / len(scores) < -0.2 THEN 'Negative'
         ELSE 'Neutral' END AS arc
FROM scored
"""


@register("q17_narrative_structure", oracle=_NARR_SQL)
def q17_narrative_structure(spark, sf_dir):
    """Stage-17 main-path narrative variants (T7/T8/T10 'backup
    behavior', 17:269-330): flow head + sentence count, pacing by
    average sentence length, arc by mean sampled sentiment — all with
    the [:5000] truncation guard."""
    from ..functions import narrative17 as n17
    t = F.col("text")
    flow = n17.narrative_flow_17(t)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.element_at(flow, 1).alias("flow_head"),
        F.size(flow).alias("n_flow"),
        n17.pacing_17(t).alias("pacing"),
        n17.sentiment_arc_17(t).alias("arc"))


# --------------------------------------------------------------------------
# q17_narrative_variants — the features/narrative.py FLAVORS (cue flow,
# p75 pacing, polyfit-slope arc), unit-differentialed vs the genuine
# reference functions in tests/test_reference_units_differential.py
# --------------------------------------------------------------------------

_INTRO_CUES_SQL = " OR ".join(
    f"contains(lower(fs[i]), '{c}')"
    for c in ("today", "announce", "we''re", "introduce", "sharing"))
_OUTRO_CUES_SQL = " OR ".join(
    f"contains(lower(fs[i]), '{c}')"
    for c in ("follow", "check out", "sign up", "learn more", "share",
              "comment"))

_VARIANTS_SQL = r"""
WITH base AS (
    SELECT doc_id, """ + _SENTS5K + r""" AS sents FROM documents
), stats AS (
    SELECT doc_id, sents, len(sents) AS ns,
        list_slice(sents, 1, 20) AS fs,
        list_sort(list_transform(list_slice(sents, 1, 50),
            s -> len(""" + _pywords_sql("s") + r"""))) AS plens,
        CASE WHEN len(sents) > 10
             THEN list_filter(sents,
                  (x, i) -> (i - 1) % greatest(1, len(sents) // 10) = 0)
             ELSE sents END AS ssents
    FROM base
), scored AS (
    SELECT doc_id, ns, fs, plens, len(fs) AS nf,
        list_transform(ssents, s ->
            least(1.0, greatest(-1.0,
                5.0 * (len(list_filter(""" + _pywords_sql("lower(s)") + r""",
                           t -> list_contains(""" + _POS_SQL + r""", t)))
                     - len(list_filter(""" + _pywords_sql("lower(s)") + r""",
                           t -> list_contains(""" + _NEG_SQL + r""", t))))::DOUBLE
                / greatest(len(""" + _pywords_sql("lower(s)") + r"""), 1)))
        ) AS scores
    FROM stats
), smoothed AS (
    SELECT *,
        CASE WHEN len(scores) < 3 THEN scores
             ELSE list_transform(range(1, len(scores) - 1), i ->
                  list_aggregate(list_slice(scores, i, i + 2), 'sum') / 3)
        END AS sm
    FROM scored
), flow AS (
    SELECT *,
        list_transform(range(1, nf + 1), i ->
            CASE WHEN i <= 2 AND (""" + _INTRO_CUES_SQL + r""")
                 THEN 'Introduction/Setup'
                 WHEN i >= nf - 1 AND (""" + _OUTRO_CUES_SQL + r""")
                 THEN 'Outro/CTA'
                 ELSE 'Content' END) AS labels
    FROM smoothed
), slope AS (
    SELECT *, len(sm)::DOUBLE AS m,
        list_aggregate(sm, 'sum') AS sum_y,
        (len(sm)::DOUBLE - 1) * len(sm)::DOUBLE / 2 AS sum_t,
        (len(sm)::DOUBLE - 1) * len(sm)::DOUBLE
            * (2 * len(sm)::DOUBLE - 1) / 6 AS sum_t2,
        list_aggregate(list_transform(range(1, len(sm) + 1),
            i -> (i - 1)::DOUBLE * sm[i]), 'sum') AS sum_ty
    FROM flow
), labeled AS (
    SELECT *,
        CASE WHEN sum_t2 - sum_t * sum_t / m > 0
             THEN (sum_ty - sum_t * sum_y / m)
                  / (sum_t2 - sum_t * sum_t / m)
             ELSE 0.0 END AS sl,
        -- np.percentile(lens, 75) linear interpolation, mirroring the
        -- engine's a*(1-frac) + b*frac operand order (dyadic frac +
        -- integer counts => exact)
        0.75 * (len(plens) - 1) - floor(0.75 * (len(plens) - 1)) AS pfrac,
        floor(0.75 * (len(plens) - 1))::INT AS plo
    FROM slope
), paced AS (
    SELECT *,
        plens[plo + 1] * (1.0 - pfrac)
            + plens[least(plo + 2, len(plens))] * pfrac AS p75
    FROM labeled
)
SELECT doc_id,
    CASE WHEN nf > 0 THEN labels[1] END AS flow_head,
    len(list_filter(labels, x -> x = 'Introduction/Setup')) AS n_intro,
    len(list_filter(labels, x -> x = 'Outro/CTA')) AS n_outro,
    len(list_filter(labels, x -> x = 'Content')) AS n_content,
    CASE WHEN ns < 3 THEN 'Short/Not Enough Data'
         WHEN p75 <= 10 THEN 'Fast'
         WHEN p75 > 20 THEN 'Slow'
         ELSE 'Moderate' END AS pacing75,
    CASE WHEN len(scores) < 4 THEN 'Short/Not Enough Data for Arc'
         WHEN sl > 0.03 THEN 'Rising'
         WHEN sl < -0.03 THEN 'Falling'
         ELSE 'Flat' END AS arc_slope
FROM paced
ORDER BY doc_id
"""


@register("q17_narrative_variants", oracle=_VARIANTS_SQL)
def q17_narrative_variants(spark, sf_dir):
    """Stage-17 FEATURE-flavor narrative variants (features/
    narrative.py:10-67): cue-zone flow labels over the [:20] slice
    (head + per-label counts), p75 pacing over the [:50] slice
    (np.percentile linear interpolation — dyadic-exact on integer
    counts), and the rolling-mean least-squares-slope sentiment arc —
    each unit-differentialed against the genuine reference functions
    (tests/test_reference_units_differential.py, r8)."""
    from ..functions import narrative17 as n17
    t = F.col("text")
    flow = n17.narrative_flow_cue(t)
    return (_docs(spark, sf_dir).select(
        "doc_id",
        F.element_at(flow, 1).alias("flow_head"),
        F.size(F.filter(flow, lambda x: x == "Introduction/Setup"))
         .alias("n_intro"),
        F.size(F.filter(flow, lambda x: x == "Outro/CTA"))
         .alias("n_outro"),
        F.size(F.filter(flow, lambda x: x == "Content"))
         .alias("n_content"),
        n17.pacing_p75(t).alias("pacing75"),
        n17.sentiment_arc_slope(rw.sentiment_scores(t))
         .alias("arc_slope"))
        .orderBy("doc_id"))


@register("q26_topic_shifts", oracle=r"""
SELECT doc_id, round(CASE
            WHEN ns < 3 THEN 0.5
            ELSE least(1.0, greatest(0.0, 1.0 - abs(0.5 -
                 CASE WHEN n_paras < 2 THEN 0.5 ELSE avg_sim END)))
       END, 6) AS topic_shift_score
FROM (
    SELECT doc_id, ns, len(toks) AS n_paras,
        CASE WHEN len(toks) >= 2 THEN
            list_aggregate(list_transform(range(1, len(toks)), i ->
                CASE WHEN len(toks[i]) + len(toks[i+1])
                          - len(list_intersect(toks[i], toks[i+1])) <= 0
                     THEN 0.0
                     ELSE len(list_intersect(toks[i], toks[i+1]))::DOUBLE
                          / (len(toks[i]) + len(toks[i+1])
                             - len(list_intersect(toks[i], toks[i+1])))
                END), 'sum') / (len(toks) - 1)
        END AS avg_sim
    FROM (
        SELECT doc_id,
            len(list_filter(list_transform(string_split_regex(
                completion, '[.!?]+'), s -> trim(s)), s -> s <> '')) AS ns,
            list_transform(
                list_filter(list_transform(
                    string_split(completion, chr(10) || chr(10)),
                    p -> """ + _pystrip_sql("p") + r"""),
                    p -> p <> ''),
                p -> list_distinct(""" + _pywords_sql(
                    "lower(substr(p, 1, 1000))") + r""")) AS toks
        FROM (
            SELECT doc_id,
                substr(text, 1, 200) || chr(10) || chr(10)
                || substr(text, 101, 200) || chr(10) || chr(10)
                || substr(text, 301, 200) AS completion
            FROM documents
        )
    )
) ORDER BY doc_id
""")
def q26_topic_shifts(spark, sf_dir):
    """R13: consecutive-paragraph similarity reward (token-Jaccard
    stand-in for spaCy vectors; documented deviation — the wrapper is
    reference-exact, see topic_shifts_score). Paragraphs are derived
    from overlapping text windows so the scoring path (not just the
    gate branches) is value-checked."""
    paras = F.concat(F.substring(F.col("text"), 1, 200), F.lit("\n\n"),
                     F.substring(F.col("text"), 101, 200), F.lit("\n\n"),
                     F.substring(F.col("text"), 301, 200))
    return (_docs(spark, sf_dir)
            .select("doc_id",
                    F.round(rw.topic_shifts_score(paras), 6)
                     .alias("topic_shift_score"))
            .orderBy("doc_id"))
