"""DPO negative generation — P16 (24-add-negatives.py:95-125;
utils/violations.py:8-62): compose constraint violations onto the
chosen text to manufacture the 'rejected' column.

Determinism deviation (documented): the reference draws random emoji /
URL suffixes / names with the global ``random`` state; this engine
derives them from md5(chosen) hex digits so the output is stable
across runs, partitions, and engines (the DuckDB oracle rebuilds the
same bytes). All string surgery is native expressions — scoring 100 TB
of pairs never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# utils/violations.py:5 emoji alphabet (31 codepoints)
EMOJI_ALPHABET = tuple("😀😃😄😁😆😅😂😊🙂🙃😉😍😘😜🤔🤩😎🥳😭🤯🔥✨👍👎👉👇✅❌💡📈📉")
NAME_POOL = ("John Doe", "Jane Smith", "Alex Johnson", "Chris Lee")


def _hex_byte(h: Column, i: int) -> Column:
    """Value 0-255 from md5 hex chars [2i, 2i+2) (1-based substr)."""
    return F.conv(F.substring(h, 2 * i + 1, 2), 16, 10).cast("int")


def violate_urls(text: Column) -> Column:
    """violations.py:28-31: append a lnkd.in URL; suffix = first 8
    md5 hex chars of the text (vs random chars in the reference)."""
    return F.concat(text, F.lit("\n\nLearn more: https://lnkd.in/"),
                    F.substring(F.md5(text.cast("binary")), 1, 8))


def violate_names(text: Column) -> Column:
    """violations.py:34-36: shout-out to a pool name (md5-picked)."""
    h = F.md5(text.cast("binary"))
    idx = _hex_byte(h, 4) % len(NAME_POOL)
    name = F.element_at(F.array(*[F.lit(n) for n in NAME_POOL]), idx + 1)
    return F.concat(text, F.lit("\n\nShout out to "), name, F.lit("!"))


def violate_emoji(text: Column, digest: Column, n: int = 10) -> Column:
    """violations.py:16-21 severity=high: append 10 emojis, md5-hex
    stream indexed into the 30-char alphabet. ``digest`` is
    ``md5(text)``, projected as a column by the caller so the ten
    picks index one digest."""
    alphabet = F.array(*[F.lit(e) for e in EMOJI_ALPHABET])
    picks = [F.element_at(alphabet,
                          _hex_byte(digest, i) % len(EMOJI_ALPHABET) + 1)
             for i in range(n)]
    return F.concat(text, F.lit("\n\n"), *picks)


def violate_hashtags(text: Column, count: int = 8) -> Column:
    """violations.py:24-26: hashtags on a fresh tail line (function
    default count=8 like the reference; the pipeline passes
    max(6, limit+3) = 6).  rstrip() strips PYTHON whitespace — the
    unicode set incl. U+2028/NBSP/\\x1c-\\x1f — so the trailing strip
    is the (?U) py-whitespace class, not Java's ASCII ``\\s`` (r8
    unit differential caught both: default-count and rstrip skew)."""
    tags = " ".join(f"#tag{i}" for i in range(count))
    return F.concat(F.regexp_replace(text, r"(?U)[\s\x1c-\x1f]+$", ""),
                    F.lit("\n\n" + tags))


def violate_length(text: Column, target: str) -> Column:
    """violations.py:8-13: 'under' halves the text; 'over' appends
    ' Lorem ipsum dolor sit amet.' x max(1, len*0.2/24)."""
    n = F.length(text)
    if target == "under":
        return F.substring(text, 1, F.greatest(
            F.lit(1), F.floor(n * 0.5).cast("int")))
    reps = F.greatest(F.lit(1), F.floor(n * 0.2 / 24).cast("int"))
    return F.concat(text, F.repeat(F.lit(" Lorem ipsum dolor sit amet."),
                                   reps))


# working columns of :func:`with_rejected`, dropped before it returns
_TEXT, _DIGEST = "__neg_text", "__neg_digest"
_LENGTH, _EMOJI = "__neg_length", "__neg_emoji"


def _violation_steps(prompt_col: str, chosen_col: str,
                     out: str) -> tuple[dict[str, Column], ...]:
    """The projections of :func:`with_rejected`, one per step. A
    constant tree per column-name triple, built once per JVM gateway
    (``cached_exprs``): building the steps' concat chains costs about
    0.1 s of py4j round-trips per call."""
    from ..session import cached_exprs

    def build():
        prompt, text, lr = F.col(prompt_col), F.col(_TEXT), F.col(_LENGTH)
        emoji_low = F.col(_EMOJI).isin("none", "infrequent")

        def constraint(label: str) -> Column:
            return F.lower(F.coalesce(F.trim(F.regexp_extract(
                prompt, rf"\*\*{label}\*\*:\s*([^\n]*)", 1)), F.lit("")))

        return (
            {_LENGTH: constraint("Suggested Post Length"),
             _EMOJI: constraint("Emoji Usage"),
             _TEXT: violate_urls(F.col(chosen_col))},
            {_TEXT: violate_names(text)},
            {_DIGEST: F.when(emoji_low, F.md5(text.cast("binary")))},
            {_TEXT: F.when(emoji_low, violate_emoji(text, F.col(_DIGEST)))
                     .otherwise(text)},
            {_TEXT: violate_hashtags(text, count=6)},  # max(6, limit 3 + 3)
            {out: F.when(lr.contains("up to"), violate_length(text, "over"))
                   .when(lr.contains("between"),
                         violate_length(text, "under"))
                   .otherwise(text)},
        )

    return cached_exprs(("rejected", prompt_col, chosen_col, out), build)


def with_rejected(df: DataFrame, prompt_col: str, chosen_col: str,
                  out: str = "rejected") -> DataFrame:
    """``df`` plus ``out``: the violation-composed negative of
    ``chosen_col`` under the length and emoji constraints parsed from
    the prompt's ``**Suggested Post Length**:`` and ``**Emoji
    Usage**:`` lines.

    violations.py:39-62 composition order: urls -> names -> emoji
    (when usage none/infrequent) -> hashtags (always) -> length (over
    for 'up to', under for 'between'). Constraint defaults follow
    24-add-negatives.py:113-116 (urls/names disallowed, hashtag
    limit 3 -> 6 tags).

    One projection per step, each reading the text the step before it
    produced as a column, and one more for the digest the emoji step
    indexes ten times (computed only on the rows that step changes).
    Every step but hashtags refers to its input more than once, so
    ``CollapseProject`` keeps those projections apart and each
    intermediate text and digest is computed once per row (3 ``md5``
    calls in the plan). Composed into one Column, the
    steps would inline every earlier step's whole tree at each use
    (230 ``md5`` calls)."""
    for cols in _violation_steps(prompt_col, chosen_col, out):
        df = df.withColumns(cols)
    return df.drop(_TEXT, _DIGEST, _LENGTH, _EMOJI)


# ---------------------------------------------------------------------------
# P19/P20 — training-pair filter + chat-template wrap
# ---------------------------------------------------------------------------

CHAT_TEMPLATE = ("<|start_header_id|>user<|end_header_id|>\n\n{prompt}"
                 "<|eot_id|><|start_header_id|>assistant<|end_header_id|>"
                 "\n\n{chosen}<|eot_id|>")


def training_pair_filter(prompt: Column, chosen: Column) -> Column:
    """P19 (25-train-sft.py:111-124): keep rows with non-blank prompt
    AND chosen."""
    return (F.trim(prompt) != "") & (F.trim(chosen) != "")


def chat_template_wrap(prompt: Column, chosen: Column) -> Column:
    """P20 (25:149-176): 2-turn user->assistant conversation rendered
    with a Llama-3-style template, applied exactly once."""
    return F.concat(
        F.lit("<|start_header_id|>user<|end_header_id|>\n\n"), prompt,
        F.lit("<|eot_id|><|start_header_id|>assistant<|end_header_id|>\n\n"),
        chosen, F.lit("<|eot_id|>"))
