"""Differential tests against the REFERENCE implementation itself.

Every other correctness check in this repo compares the engine to
hand-transcribed DuckDB oracles.  This module closes the last
independent evidence class (VERDICT r5 ask #1): it runs the
reference's deterministic stages AS SUBPROCESSES — stage 1
(1-find-gradient.py), cleaners 7/12/15, stage 18 prompt assembly,
stage 22 fan-out, stage 23 balance+split (seeded), stage 24 negatives
— on the reference's own example-dataset.jsonl plus a generated
~5k-row superset in the same 23-key schema, then feeds the SAME bytes
to the engine's stage functions and compares at the SURVEY §4
contract level:

  * deterministic transforms (1, 7, 12, 15, 18, 22): order-insensitive
    rowset equality (engagement ratios at 9 dp, prompts byte-exact);
  * sampled stages (23): per-combo balanced counts and per-group
    SFT/DPO split counts, which are deterministic even though the
    row assignment is seeded-random;
  * unseeded-random stage (24): byte equality after normalizing the
    three random spans (URL suffix / name / emoji tail), plus exact
    length relations for the halving branch.

Q1-Q4 deviations are asserted explicitly, not skipped:
  * Q2 stage-22 double-write: the reference CSV holds each pair
    exactly TWICE; the engine emits it once (test_stage22_fanout).
  * Q4 stage-15 truthiness bug: the effective cleaner is
    CJK | 'unknown' | contains('650+') — '$3.5M' and 'LinkedIn'
    survive (test_stage15_context).
  * B2/B4 balancer band: the reference's prefer-downsampling caps
    every combo at int(0.95*avg); the engine's balancer clamps into
    [floor(0.95*avg), floor(1.05*avg)] (test_stage23_balanced_counts
    asserts BOTH relations on the same input).

r7 adds RANDOMIZED fuzzing (VERDICT r6 ask #1): `_gen_posts(n, seed,
fuzz=True)` draws the LLM-stage fields from seeded per-corpus pools
spanning four strata (unicode whitespace / mixed-script / JSON-edge /
empty-huge; FIXTURES.md §F9), and `test_fuzz_differential` drives
SPARK_GRAFT_FUZZ_N fresh corpora through the same chain + checks
(scripts/fuzz_differential.py is the unbounded CLI).  Its first
session caught two real divergence classes: JVM JSON trailing-bytes /
duplicate-key / single-quote lenience vs json.loads (unwrap now a
CPython-exact Arrow UDF) and the Unicode-14-vs-13 isalpha skew
(U+9FFF; measured skew classes now pinned, scripts/unicode_skew.py).

The reference is PUBLIC UNTRUSTED CONTENT executed read-only in a
scratch cwd; nothing under /root/reference is written.
"""

from __future__ import annotations

import csv
import json
import os
import random
import re
import subprocess
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

REF = "/root/reference"

pytestmark = pytest.mark.skipif(
    not os.path.isfile(os.path.join(REF, "1-find-gradient.py")),
    reason="reference checkout not present")

SEED = 3407
N_POSTS = 5000

# randomized fuzzing (VERDICT r6 ask #1): each fuzz corpus is smaller
# (the reference chain is re-run per corpus) and drawn from seeded
# per-corpus pools spanning four strata — unicode whitespace,
# mixed-script, JSON-edge, empty/huge-field.  SPARK_GRAFT_FUZZ_N
# controls how many corpora pytest drives (scripts/fuzz_differential.py
# is the unbounded CLI); seeds are deterministic so any catch replays.
N_FUZZ_POSTS = int(os.environ.get("SPARK_GRAFT_FUZZ_POSTS", "1500"))
FUZZ_SEED0 = 911_000
FUZZ_SEEDS = [FUZZ_SEED0 + 13 * i
              for i in range(int(os.environ.get("SPARK_GRAFT_FUZZ_N", "2")))]


# ---------------------------------------------------------------------------
# fixture corpus: the reference's 23-key flat post schema + the
# LLM-stage fields (topic/opinion/context/tone/structure) and the
# stage-17 style-feature fields stage 18 consumes
# ---------------------------------------------------------------------------

_WORDS = ("growth mindset pipeline leverage insight career ship data "
          "team async remote product launch metric churn retention "
          "brand story café naïve Zürich founders capital").split()

_TOPICS = (
    "AI engineering", "growth marketing",
    '{"topic": "career advice"}', '{"topic": "unknown"}',
    '\t{"topic": "whitespace json"}\n',
    "sales ... funnels", "why not?", "data_pipelines", "{weird}",
    "[draft]", "<tag>", "机器学习", "unknown",
    "  Unknown  ", "personal brand", '{"other": "x"}',
    # python-strip probe: str.strip() removes \t/\n/NBSP, trim() does
    # not — these must be DROPPED like the reference drops them
    "\tunknown\n", "\u00a0Unknown\u00a0",
)
_OPINIONS = (
    "I believe consistency beats intensity",
    '{"opinion": "I think remote work wins"}',
    "why not?", "data_driven mindset", "so true...",
    "把握机会", "unknown", " UNKNOWN ",
    "I think brevity sells", "\tunknown\n",
)
_CONTEXTS = (
    "after 10 years in consulting",
    '{"context": "based on a survey of 650+ leaders"}',
    "we raised 650+ rounds", "I love LinkedIn posts",
    "$3.5M ARR milestone", "未知", "unknown",
    "a 2019 experiment", "\u00a0unknown\t",
)
_TONES = ("Professional, Friendly", "Casual", "Bold, Witty, Warm",
          "Serious", None)
_STRUCTURES = (
    "reflective", "This post is Reflective in tone",
    "comparatively insightful commentary", "announcement",
    "somewhat controversial take", "no match here",
    "Inspirational and reflective", None,
    # NBSP probe: Python str.split() breaks on unicode whitespace, so
    # the reference sees the word 'reflective' here — an ASCII-\s
    # engine split would glue 'reflective\xa0and' and fall through to
    # 'announcement' (the r6 PY_WS_SPLIT fix)
    "Reflective\u00a0and announcement",
)
_MAX_LENGTHS = ("Up to 750 characters", "Between 750 and 1,500 characters",
                "Between 1,500 and 3,000 characters", "short and sweet",
                "a couple paragraphs")
_EMOJI_USAGE = ("none", "very low", "low", "medium", "high", "extreme",
                "occasionally", "minimal", "infrequent")
_BULLETS = (None, "Differing Emojis", "EmojiBullets", "Mixed Bullet Styles",
            "Numbers", "-", "•", "(", "#")
_DIVIDERS = (None, "-", "—", "***")
_FLOWS = (
    [], ["Introduction/Setup"],
    ["Introduction/Setup", "Conflict/Resolution Point"],
    ["Transition/Reflection", "Introduction/Setup",
     "Introduction/Development"],
    ["Introduction/Setup", "Content", "Content", "Content", "Content"],
    ["Custom Label"],
)
_PACINGS = ("Fast", "Slow", "Variable", "Dynamic", "Moderate",
            "Short/Not Enough Data")
_ARCS = ("Upward Trend", "Downward Trend", "Stable", "Complex/Variable",
         "Short/Not Enough Data for Arc", "Positive", "Negative",
         "Neutral", "Weird Arc")
_PHRASES = ([], ["data driven"], ["ship it", "day one"])


# ---------------------------------------------------------------------------
# fuzz strata (VERDICT r6 ask #1)
# ---------------------------------------------------------------------------

# Python-isspace whitespace beyond ASCII space: the cross-engine split/
# strip traps (VT, file/group/record/unit separators, NEL, NBSP, ogham,
# en-quads..hair space, LINE/PARAGRAPH SEPARATOR, narrow NBSP, MMSP,
# ideographic space).  '\r' is deliberately ABSENT: a raw CR inside a
# CSV field is translated by the reference's own text-mode reads
# (universal-newline translation inside quoted fields) — a file-format
# artifact, not operator semantics; everything else round-trips.
_FUZZ_WS = ("\t", "\n", "\x0b", "\x0c", "\x1c", "\x1d", "\x1e",
            "\x1f", "\x85", "\u00a0", "\u1680", "\u2000", "\u2003",
            "\u2009", "\u200a", "\u2028", "\u2029", "\u202f",
            "\u205f", "\u3000", " ")

# mixed-script fragments: unicode isalpha-vs-[A-Za-z] probes, CJK-range
# boundary probes (U+4E00/U+9FFF INSIDE the reference's [一-鿿] class;
# U+3400 ext-A, U+3FFF, U+A000 OUTSIDE), fullwidth forms, ligatures,
# combining marks, emoji, digits-in-other-scripts
_FUZZ_SCRIPTS = (
    "word", "Wort", "café", "naïve", "слово", "λόγος", "كلمة", "שלום",
    "たんご", "カタカナ", "한글", "ʘǂā", "Ʊpsilon", "ｆｕｌｌｗｉｄｔｈ",
    "ⅣⅤ", "ʳᵉᵃˡ", "ﬁligree", "ẞharp", "🚀rocket", "x²y³", "ℕℤℚ",
    "Ａｌｐｈａ", "一side", "鿿edge", "㐀extA", "㿿out",
    "ꀀyi", "écombine", "٠١٢arabic", "१२३deva",
)

_STRUCT_LABELS = ("instructional", "inspirational", "controversial",
                  "insightful", "comparative", "reflective",
                  "announcement")


def _fz_ws(rng, k: int = 3) -> str:
    return "".join(rng.choices(_FUZZ_WS, k=rng.randint(1, k)))


def _fz_mixed(rng) -> str:
    return "".join(rng.choices(_FUZZ_SCRIPTS, k=rng.randint(1, 3)))


def _fz_json(rng, key: str) -> str:
    """JSON-edge stratum: well-formed, whitespace-decorated, wrong-key,
    single-quoted, duplicate-key, truncated and empty-object documents.
    Deliberately excluded (documented deviations, pinned elsewhere):
    non-string values (crash the reference) and trailing-garbage
    documents (Jackson first-document lenience,
    tests/test_null_semantics.py::test_json_unwrap_is_cpython_faithful)."""
    v = rng.choice(["plain value", "", " ", "unknown", " Unknown\t",
                    'with "q"', "}brace", "[br]", _fz_mixed(rng),
                    'nested {"k": "v"} txt', "?" , "a...b"])
    doc = json.dumps({key: v}, ensure_ascii=False)
    r = rng.random()
    if r < 0.2:
        return _fz_ws(rng) + doc + _fz_ws(rng)
    if r < 0.3:
        return json.dumps({"other": v}, ensure_ascii=False)
    if r < 0.4:
        return doc.replace('"', "'")
    if r < 0.5:
        safe = re.sub(r'["\\\\]', "", v)
        return '{"%s": "first", "%s": "%s"}' % (key, key, safe)
    if r < 0.6:
        return doc[:-1]
    if r < 0.7:
        return "{}"
    return doc


def _fz_field(rng, key: str, base: tuple) -> str:
    """One fuzzed LLM-stage field value across the four strata."""
    r = rng.random()
    if r < 0.25:
        return _fz_json(rng, key)
    if r < 0.45:                              # unicode-ws decorated
        core = rng.choice(["growth ideas", "unknown", "Unknown",
                           _fz_mixed(rng), "650+", "$3.5M"])
        return _fz_ws(rng) + core + _fz_ws(rng)
    if r < 0.6:                               # mixed-script
        return _fz_mixed(rng) + rng.choice([" ", _fz_ws(rng)]) \
            + _fz_mixed(rng)
    if r < 0.7:                               # empty / huge
        return rng.choice(["", " ", _fz_ws(rng),
                           "x" * rng.randint(3000, 12000)])
    return rng.choice([b for b in base if b is not None])


def _fz_structure(rng) -> str | None:
    """Structure-matcher adversaries: random case, unicode-ws gluing,
    multiple labels (text order vs list order), split labels, glued
    prefixes, boundary junk."""
    r = rng.random()
    if r < 0.1:
        return rng.choice(_STRUCTURES)
    lab = rng.choice(_STRUCT_LABELS + ("other", "no match here"))
    case = rng.choice([str.lower, str.upper, str.title, lambda s: s])
    lab = case(lab)
    if r < 0.3:
        return _fz_ws(rng) + lab + _fz_ws(rng)
    if r < 0.5:                               # two labels, ws-joined
        return lab + _fz_ws(rng) + rng.choice(_STRUCT_LABELS)
    if r < 0.65:                              # glued prefix (substring!)
        return _fz_mixed(rng) + lab
    if r < 0.8:                               # split label
        return lab[: len(lab) // 2] + _fz_ws(rng) + lab
    if r < 0.9:
        return lab + " and " + rng.choice(_STRUCT_LABELS)
    return None


def _gen_text(rng: random.Random, i: int, fuzz: bool = False) -> str:
    n_sent = rng.randint(1, 8)
    parts = [f"post {i} opener."]
    for s in range(n_sent):
        words = rng.choices(_WORDS, k=rng.randint(3, 28))
        end = rng.choice([".", ".", "!", "?", ";", ","])
        parts.append(" ".join(words) + end)
        if rng.random() < 0.3:
            parts.append("\n")
        if rng.random() < 0.1:
            parts.append("\n\n\U0001F680 bullet line\n")
        if fuzz and rng.random() < 0.2:
            # unicode-ws-joined mixed-script run inside the text:
            # exercises word counting / vocabulary / sentence stats
            parts.append(_fz_mixed(rng) + _fz_ws(rng) + _fz_mixed(rng))
    if rng.random() < 0.15:
        # unicode-whitespace probe inside post_text: exercises the
        # vocabulary denominator's str.split() semantics in stage 18
        parts.append("caf\u00e9\u00a0na\u00efve thin\u2009space words")
    txt = " ".join(parts)
    if rng.random() < 0.3:          # stretch into the longer buckets
        txt = txt * rng.randint(2, 6)
    if fuzz and rng.random() < 0.03:
        txt = txt + " " + "y" * rng.randint(10000, 30000)  # huge field
    return txt


def _gen_posts(n: int, seed: int = SEED, fuzz: bool = False) -> list[dict]:
    """The r6 fixed corpus (default) or, with ``fuzz=True``, a seeded
    random corpus drawing the LLM-stage fields from the four fuzz
    strata (unicode whitespace / mixed-script / JSON-edge /
    empty-huge) on top of the base pools."""
    rng = random.Random(seed)
    posts = []
    for i in range(n):
        p = {
            "post_id": str(7000000000000000000 + i),
            "post_url": f"https://example.com/feed/{i}",
            "post_timestamp": 1665395207054 + i,
            "author_name": f"Author {i % 37}",
            "author_username": f"/in/author{i % 37}",
            "is_repost": rng.random() < 0.2,
            "has_media": rng.random() < 0.5,
            "has_image": rng.random() < 0.3,
            "has_video": rng.random() < 0.1,
            "has_document": rng.random() < 0.1,
            "shares_count": rng.choice(
                [0, None, -2, rng.randint(0, 400), rng.randint(0, 400)]
                + ([10**12, -(10**9)] if fuzz else [])),
            "comments_count": rng.choice(
                [0, None, rng.randint(1, 900), rng.randint(1, 900),
                 rng.randint(1, 900)]
                + ([10**12] if fuzz else [])),
            "total_likes_count": rng.choice(
                [0, None, rng.randint(1, 5000), rng.randint(1, 5000),
                 rng.randint(1, 5000)]
                + ([10**13, 1] if fuzz else [])),
            "reaction_like_count": rng.randint(0, 100),
            "reaction_praise_count": rng.randint(0, 50),
            "reaction_empathy_count": rng.randint(0, 20),
            "reaction_interest_count": rng.randint(0, 20),
            "reaction_appreciation_count": rng.randint(0, 20),
            "reaction_maybe_count": 0,
            "reaction_entertainment_count": rng.randint(0, 10),
            "timestamp_array": [1665395207054 + i],
            "post_text": _gen_text(rng, i, fuzz=fuzz),
            "topic": (_fz_field(rng, "topic", _TOPICS) if fuzz
                      else rng.choice(_TOPICS)),
            "opinion": (_fz_field(rng, "opinion", _OPINIONS) if fuzz
                        else rng.choice(_OPINIONS)),
            "context": (_fz_field(rng, "context", _CONTEXTS) if fuzz
                        else rng.choice(_CONTEXTS)),
            "tone": (rng.choice(_TONES + ("A,,b", " , lead", "X" * 300,
                                          _fz_mixed(rng)))
                     if fuzz else rng.choice(_TONES)),
            "structure": (_fz_structure(rng) if fuzz
                          else rng.choice(_STRUCTURES)),
            "max_length": rng.choice(_MAX_LENGTHS),
            "emoji_usage": rng.choice(_EMOJI_USAGE),
            "sentence_structure": rng.choice(
                [[], [3, 4], [12, 15, 9], [25, 30], [8] * 6]),
            "vocabulary_usage": rng.randint(1, 40),
            "line_breaks": rng.choice([0, 1, 5, 12, 20]),
            "avg_line_breaks": round(rng.random() * 0.5, 3),
            "punctuation_usage": {".": rng.randint(0, 30),
                                  ",": rng.randint(0, 30),
                                  ";": rng.randint(0, 5),
                                  "!": rng.randint(0, 10),
                                  "?": rng.randint(0, 10)},
            "divider_style": rng.choice(_DIVIDERS),
            "bullet_styles": rng.choice(_BULLETS),
            "topic_shifts": rng.choice(
                [None, [],
                 [{"from_segment": 0, "to_segment": 1,
                   "shift_score": round(rng.random(), 3)}],
                 [{"from_segment": 0, "to_segment": 1, "shift_score": 0.85},
                  {"from_segment": 1, "to_segment": 2, "shift_score": 0.1}],
                 [{"from_segment": 0, "to_segment": 1}]]),
            "flow": rng.choice(_FLOWS),
            "pacing": rng.choice(_PACINGS),
            "sentiment_arc": rng.choice(_ARCS),
            "profanity": rng.choice([None, "none", "mild"]),
            "common_phrases": rng.choice(_PHRASES),
        }
        p["follower_count"] = rng.choice(
            [0, None, 120, 3044, 98000, rng.randint(1, 50000)]
            + ([10**14, 1, -7] if fuzz else []))
        if rng.random() < 0.02:
            p["post_text"] = ""           # falsy -> skipped by cleaners
        if rng.random() < 0.01:
            del p["post_text"]            # missing key entirely
        if rng.random() < 0.02:
            del p["follower_count"]
        posts.append(p)
    return posts


# ---------------------------------------------------------------------------
# subprocess harness
# ---------------------------------------------------------------------------

def _ref_env(shim_dir: str) -> dict:
    os.makedirs(shim_dir, exist_ok=True)
    shim = os.path.join(shim_dir, "tqdm.py")
    if not os.path.exists(shim):
        with open(shim, "w") as f:
            f.write("def tqdm(it=None, *a, **k):\n    return it\n")
    env = os.environ.copy()
    env["PYTHONPATH"] = f"{REF}:{shim_dir}"
    return env


def _run_ref(script: str, args: list[str], cwd: str, env: dict) -> None:
    r = subprocess.run([sys.executable, os.path.join(REF, script), *args],
                       cwd=cwd, env=env, capture_output=True, text=True,
                       timeout=900)
    assert r.returncode == 0, (f"{script} rc={r.returncode}\n"
                               f"stdout:\n{r.stdout[-3000:]}\n"
                               f"stderr:\n{r.stderr[-3000:]}")


def _read_jsonl(path: str) -> list[dict]:
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def _read_csv(path: str) -> list[dict]:
    with open(path, newline="", encoding="utf-8") as f:
        return list(csv.DictReader(f))


def run_reference_chain(tmp, posts: list[dict], seed: int = SEED,
                        ascii_jsonl: bool = False) -> dict:
    """Write ``posts`` as JSONL and run the reference's stage
    1->7->12->15->18->22->23->24 chain on it; return artifact paths.
    ``ascii_jsonl`` writes the input with ensure_ascii=True (fuzz
    corpora: raw U+2028/29 etc. stay out of the FILE while json.loads
    reconstructs the identical strings)."""
    import pathlib
    tmp = pathlib.Path(tmp)
    gen = tmp / "gen.jsonl"
    with open(gen, "w", encoding="utf-8") as f:
        for p in posts:
            f.write(json.dumps(p, ensure_ascii=ascii_jsonl) + "\n")

    bd = str(tmp / "bd")
    env = _ref_env(str(tmp / "shim"))
    cwd = str(tmp)

    _run_ref("1-find-gradient.py",
             ["--input", str(gen), "--run-id", "gen", "--base-dir", bd,
              "--reports-dir", str(tmp / "reports")], cwd, env)
    s7, s12, s15 = (str(tmp / f"s{k}.jsonl") for k in (7, 12, 15))
    _run_ref("7-clean-topics.py",
             ["--input", str(gen), "--output", s7], cwd, env)
    _run_ref("12-clean-opinions.py",
             ["--input", s7, "--output", s12], cwd, env)
    _run_ref("15-clean-context.py",
             ["--input", s12, "--output", s15], cwd, env)
    _run_ref("18-generate-prompts.py",
             ["--input", s15, "--run-id", "r", "--base-dir", bd,
              "--seed", str(seed)], cwd, env)
    _run_ref("22-generate-dataset.py",
             ["--input", os.path.join(bd, "r", "18-with-prompts.jsonl"),
              "--run-id", "r", "--base-dir", bd], cwd, env)
    _run_ref("23-split.py",
             ["--input", os.path.join(bd, "r", "22-ready-dataset.csv"),
              "--run-id", "r", "--base-dir", bd,
              "--seed", str(seed)], cwd, env)
    dpo_ready = str(tmp / "dpo-ready.csv")
    _run_ref("24-add-negatives.py",
             ["--input", os.path.join(bd, "r", "23-dpo.csv"),
              "--output", dpo_ready], cwd, env)

    return {
        "tmp": tmp, "bd": bd, "env": env, "cwd": cwd, "gen": str(gen),
        "gen1": os.path.join(bd, "gen", "01-best-posts.jsonl"),
        "s7": s7, "s12": s12, "s15": s15,
        "s18": os.path.join(bd, "r", "18-with-prompts.jsonl"),
        "s22": os.path.join(bd, "r", "22-ready-dataset.csv"),
        "balanced": os.path.join(bd, "r", "23-balanced-dataset.csv"),
        "sft": os.path.join(bd, "r", "23-sft.csv"),
        "dpo": os.path.join(bd, "r", "23-dpo.csv"),
        "dpo_ready": dpo_ready,
    }


@pytest.fixture(scope="module")
def ref(tmp_path_factory):
    """Run the full reference chain once on the FIXED r6 corpus (plus
    the reference's own example dataset for stage 1)."""
    tmp = tmp_path_factory.mktemp("refdiff")
    arts = run_reference_chain(tmp, _gen_posts(N_POSTS))
    _run_ref("1-find-gradient.py",
             ["--input", os.path.join(REF, "example-dataset.jsonl"),
              "--run-id", "ex", "--base-dir", arts["bd"],
              "--reports-dir", str(tmp / "reports")],
             arts["cwd"], arts["env"])
    arts["ex1"] = os.path.join(arts["bd"], "ex", "01-best-posts.jsonl")
    return arts


# ---------------------------------------------------------------------------
# stage 1 — engagement tiering
# ---------------------------------------------------------------------------

def _engine_stage1(spark, raw_posts: list[dict]):
    """Engine stage-1 over the same records the reference read."""
    from social_media_ai_engineering_etl_spark.functions.engagement import (
        engagement_ratio, with_tiers)
    schema = T.StructType([
        T.StructField("post_id", T.StringType()),
        T.StructField("follower_count", T.LongType()),
        T.StructField("comments_count", T.LongType()),
        T.StructField("total_likes_count", T.LongType()),
        T.StructField("shares_count", T.LongType()),
    ])
    rows = [tuple(p.get(f.name) for f in schema.fields) for p in raw_posts]
    df = spark.createDataFrame(rows, schema)
    # reference read semantics: post.get(k, 0) or 0
    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    scored = df.withColumn("engagement_ratio", engagement_ratio(
        z("comments_count"), z("total_likes_count"), z("shares_count"),
        z("follower_count")))
    return with_tiers(scored)  # default: drop Tier C, 0.80/0.40 quantiles


def _flat_posts(path: str) -> list[dict]:
    """Explode {'posts': [...]} lines; pass flat post lines through
    (1-find-gradient.py:42-47)."""
    out = []
    for rec in _read_jsonl(path):
        if isinstance(rec.get("posts"), list):
            out.extend(rec["posts"])
        elif ("post_text" in rec or "follower_count" in rec
              or "total_likes_count" in rec):
            out.append(rec)
    return out


def _check_stage1(spark, in_path: str, out_path: str) -> None:
    raw = _flat_posts(in_path)
    # some corpora have no post_id on every record: key by index
    for i, p in enumerate(raw):
        p["post_id"] = p.get("post_id") or f"idx{i}"
    want_rows = _read_jsonl(out_path)
    eng = _engine_stage1(spark, raw)
    got = [(r["post_id"], round(r["engagement_ratio"], 9), r["tier"])
           for r in eng.collect()]
    if all("post_id" in w for w in want_rows):
        want = [(w["post_id"], round(w["engagement_ratio"], 9), w["tier"])
                for w in want_rows]
    else:
        # align by order: engine keeps input order within its rowset?
        # no — compare ratio/tier multisets only
        want = [(None, round(w["engagement_ratio"], 9), w["tier"])
                for w in want_rows]
        got = [(None, r, t) for (_, r, t) in got]
    assert Counter(got) == Counter(want)
    # the reference drops Tier C by default — assert the filter really
    # fired on both sides
    assert all(t != "Tier C (Bottom 40%)" for (_, _, t) in got)


@pytest.mark.parametrize("dataset", ["example", "generated"])
def test_stage1_tiers_match_reference(spark, ref, dataset):
    if dataset == "example":
        _check_stage1(spark, os.path.join(REF, "example-dataset.jsonl"),
                      ref["ex1"])
    else:
        _check_stage1(spark, ref["gen"], ref["gen1"])


# ---------------------------------------------------------------------------
# stages 7 / 12 / 15 — cleaners
# ---------------------------------------------------------------------------

def _cleaner_input(spark, path: str, field: str):
    rows = [(p.get("post_id"), p.get("post_text"), p.get(field, ""))
            for p in _read_jsonl(path)]
    # reference `post.get(field, '')` -> missing key reads as ''
    rows = [(i, t, v if v is not None else "") for (i, t, v) in rows]
    return spark.createDataFrame(
        rows, T.StructType([T.StructField("post_id", T.StringType()),
                            T.StructField("post_text", T.StringType()),
                            T.StructField("val", T.StringType())]))


def _assert_cleaner(spark, in_path, out_path, field, key, disallow_expr):
    from social_media_ai_engineering_etl_spark.functions import cleaning
    df = _cleaner_input(spark, in_path, field)
    kept = (df.filter(F.col("post_text").isNotNull()
                      & (F.col("post_text") != ""))
              .withColumn("val", cleaning.unwrap_json_field(
                  F.col("val"), key))
              .filter(~disallow_expr(F.col("val"))))
    got = Counter((r.post_id, r.val) for r in kept.collect())
    want = Counter((p["post_id"], p.get(field, ""))
                   for p in _read_jsonl(out_path))
    assert got == want


def test_stage7_clean_topics(spark, ref):
    from social_media_ai_engineering_etl_spark.functions import cleaning
    _assert_cleaner(spark, ref["gen"], ref["s7"], "topic", "topic",
                    cleaning.is_disallowed)


def test_stage12_clean_opinions(spark, ref):
    """Stage 12 drops ONLY CJK/'unknown' — topics' substring list does
    not apply (a '?' opinion survives)."""
    from social_media_ai_engineering_etl_spark.functions import cleaning
    _assert_cleaner(spark, ref["s7"], ref["s12"], "opinion", "opinion",
                    cleaning.is_disallowed_opinion)
    # deviation probe: at least one kept opinion would be dropped by
    # the stricter topic rules
    kept = {p.get("opinion") for p in _read_jsonl(ref["s12"])}
    assert any("?" in (o or "") or "_" in (o or "") for o in kept)


def test_stage15_clean_context(spark, ref):
    """Q4: the shipped term filter only tests '650+'; '$3.5M' and
    'LinkedIn' contexts survive, CJK/'unknown' still drop."""
    from social_media_ai_engineering_etl_spark.functions import cleaning
    _assert_cleaner(spark, ref["s12"], ref["s15"], "context", "context",
                    cleaning.is_disallowed_context_effective)
    kept = {p.get("context") for p in _read_jsonl(ref["s15"])}
    assert any("LinkedIn" in (c or "") for c in kept)          # Q4 kept
    assert any("$3.5M" in (c or "") for c in kept)             # Q4 kept
    assert all("650+" not in (c or "") for c in kept)          # dropped

# ---------------------------------------------------------------------------
# stage 18 — prompt assembly (§2.9 describe chain, byte-exact)
# ---------------------------------------------------------------------------

_S18_SCHEMA = T.StructType([
    T.StructField("post_text", T.StringType()),
    T.StructField("topic", T.StringType()),
    T.StructField("opinion", T.StringType()),
    T.StructField("context", T.StringType()),
    T.StructField("tone", T.StringType()),
    T.StructField("structure", T.StringType()),
    T.StructField("max_length", T.StringType()),
    T.StructField("emoji_usage", T.StringType()),
    T.StructField("sentence_structure", T.ArrayType(T.IntegerType())),
    T.StructField("vocabulary_usage", T.LongType()),
    T.StructField("line_breaks", T.LongType()),
    T.StructField("avg_line_breaks", T.DoubleType()),
    T.StructField("punctuation_usage",
                  T.MapType(T.StringType(), T.LongType())),
    T.StructField("divider_style", T.StringType()),
    T.StructField("bullet_styles", T.StringType()),
    T.StructField("topic_shifts", T.ArrayType(T.StructType([
        T.StructField("shift_score", T.DoubleType())]))),
    T.StructField("flow", T.ArrayType(T.StringType())),
    T.StructField("pacing", T.StringType()),
    T.StructField("sentiment_arc", T.StringType()),
    T.StructField("profanity", T.StringType()),
    T.StructField("common_phrases", T.ArrayType(T.StringType())),
])


def _engine_stage18(spark, in_path: str):
    from social_media_ai_engineering_etl_spark.functions import (cleaning,
                                                                 describe)
    rows = []
    for p in _read_jsonl(in_path):
        shifts = p.get("topic_shifts")
        if shifts is not None:
            shifts = [{"shift_score": d.get("shift_score")} for d in shifts]
        rows.append(tuple(
            p.get(f.name) if f.name != "topic_shifts" else shifts
            for f in _S18_SCHEMA.fields))
    df = spark.createDataFrame(rows, _S18_SCHEMA)
    mandatory = (F.col("post_text").isNotNull() & (F.col("post_text") != "")
                 & F.col("structure").isNotNull() & F.col("topic").isNotNull()
                 & F.col("opinion").isNotNull() & F.col("context").isNotNull()
                 & F.col("tone").isNotNull())
    shift_scores = F.when(
        F.col("topic_shifts").isNotNull(),
        F.filter(F.transform(F.col("topic_shifts"),
                             lambda x: x.getField("shift_score")),
                 lambda s: s.isNotNull()))
    prompt = describe.writing_style_summary(
        cleaning.normalize_structure(F.col("structure")),
        F.col("topic"),
        F.concat(F.col("opinion"), F.lit(" "), F.col("context")),
        F.col("max_length"), F.col("tone"), F.col("emoji_usage"),
        slens=F.col("sentence_structure"),
        post_text=F.col("post_text"),
        vocab_count=F.col("vocabulary_usage"),
        common_phrases=F.coalesce(F.col("common_phrases"),
                                  F.array().cast("array<string>")),
        divider_style=F.col("divider_style"),
        line_breaks=F.col("line_breaks"),
        avg_breaks=F.col("avg_line_breaks"),
        punct_map=F.col("punctuation_usage"),
        bullet_style=F.col("bullet_styles"),
        shift_scores=shift_scores,
        flow=F.col("flow"),
        pacing_label=F.col("pacing"),
        arc_label=F.col("sentiment_arc"),
        profanity=F.col("profanity"))
    return df.select("post_text",
                     F.when(mandatory, prompt).alias("prompt"))


def _check_stage18(spark, arts: dict, min_prompts: int = 100) -> None:
    got = Counter((r.post_text, r.prompt)
                  for r in _engine_stage18(spark, arts["s15"]).collect())
    want = Counter((p.get("post_text"), p.get("prompt"))
                   for p in _read_jsonl(arts["s18"]))
    # every row is written (skipped ones carry prompt=None)
    assert sum(want.values()) == len(_read_jsonl(arts["s15"]))
    assert got == want
    # non-degeneracy: real prompts were assembled and both skip classes
    # exist
    n_prompts = sum(c for (t, pr), c in want.items() if pr)
    assert n_prompts > min_prompts
    assert any(pr is None for (_, pr) in want)


def test_stage18_prompts_byte_exact(spark, ref):
    _check_stage18(spark, ref)


# ---------------------------------------------------------------------------
# stage 22 — fan-out (Q2 double-write asserted)
# ---------------------------------------------------------------------------

def _engine_stage22(spark, s18_path: str):
    from social_media_ai_engineering_etl_spark.operators import fanout
    rows = [(p.get("post_text"), p.get("topic"), p.get("opinion"),
             p.get("tone"), p.get("structure"), p.get("prompt"))
            for p in _read_jsonl(s18_path)]
    df = spark.createDataFrame(
        rows, "post_text string, topic string, opinion string, "
              "tone string, structure string, prompt string")
    return fanout.generate_training_pairs(df)


def _check_stage22(spark, arts: dict, min_pairs: int = 200) -> None:
    eng = Counter((r.system, r.prompt, r.chosen)
                  for r in _engine_stage22(spark, arts["s18"]).collect())
    refc = Counter((w["system"], w["prompt"], w["chosen"])
                   for w in _read_csv(arts["s22"]))
    # Q2: the reference's run-id mode writes each pair TWICE;
    # the engine emits each exactly once. Assert the 2x relation.
    assert refc == Counter({k: 2 * v for k, v in eng.items()}), (
        "stage-22 rowset mismatch beyond the documented 2x double-write")
    assert len(eng) > min_pairs


def test_stage22_fanout_double_write_relation(spark, ref):
    _check_stage22(spark, ref)


# ---------------------------------------------------------------------------
# stage 23 — balance + split (seeded; counts are deterministic)
# ---------------------------------------------------------------------------

def _combo_frame(spark, csv_path: str):
    """Attach the engine's stage-23 metadata exprs to a pairs CSV."""
    from social_media_ai_engineering_etl_spark.functions import cleaning
    rows = [(w["system"], w["prompt"], w["chosen"], w["rejected"])
            for w in _read_csv(csv_path)]
    df = spark.createDataFrame(
        rows, "system string, prompt string, chosen string, rejected string")
    pt = cleaning.classify_prompt_type(F.col("prompt"))
    structure = (F.when(pt == "structure",
                        cleaning.structure_from_chosen(F.col("chosen")))
                  .when(pt == "post-generation",
                        cleaning.structure_from_post_gen_prompt(
                            F.col("prompt")))
                  .otherwise(F.lit("N/A")))
    return df.select(
        "prompt", "chosen",
        pt.alias("prompt_type"), structure.alias("structure"),
        F.when(pt == "post-generation",
               cleaning.extract_max_length_std(F.col("prompt")))
         .alias("max_length"),
        F.when(pt == "post-generation",
               cleaning.extract_emoji_usage_std(F.col("prompt")))
         .alias("emoji_usage"))


def _combo_counts(spark, csv_path: str) -> Counter:
    out = Counter()
    for r in _combo_frame(spark, csv_path).collect():
        if r.prompt_type == "post-generation":
            key = ("post-generation", r.structure, r.max_length,
                   r.emoji_usage)
        else:
            key = (r.prompt_type, "N/A", "N/A", "N/A")
        out[key] += 1
    return out


def _check_stage23_balance(spark, arts: dict) -> None:
    """Reference balanced counts == closed-form expectation computed
    from the ENGINE's metadata extraction (prompt-type classifier,
    structure recovery, length/emoji standardizers). Any per-row
    labeling divergence would shift a combo count."""
    inp = _combo_counts(spark, arts["s22"])
    total = sum(inp.values())
    avg = total / len(inp)
    min_count = max(1, int(0.95 * avg))
    expected = {k: min(v, min_count) for k, v in inp.items()}
    got = _combo_counts(spark, arts["balanced"])
    assert dict(got) == expected
    # engine's own balancer (B4) on the same input obeys ITS documented
    # band clamp [floor(.95 avg), floor(1.05 avg)] — deviation asserted,
    # not assumed: the reference caps AT the lower bound, the engine
    # clamps INTO the band
    from social_media_ai_engineering_etl_spark.operators.sampling import (
        prefer_downsample_balance)
    import math
    pg = F.col("prompt_type") == "post-generation"
    combos = _combo_frame(spark, arts["s22"]).select(
        "prompt_type",
        F.when(pg, F.col("structure")).otherwise("N/A").alias("structure"),
        F.when(pg, F.col("max_length")).otherwise("N/A").alias("max_length"),
        F.when(pg, F.col("emoji_usage")).otherwise("N/A")
         .alias("emoji_usage"))
    bal = prefer_downsample_balance(
        combos, ["prompt_type", "structure", "max_length", "emoji_usage"])
    got_eng = Counter(
        (r.prompt_type, r.structure, r.max_length, r.emoji_usage)
        for r in bal.collect())
    lo = max(1, math.floor(avg * 0.95))
    hi = max(math.floor(avg * 1.05), lo)
    for k, v in inp.items():
        want = min(max(v, lo), hi)
        assert got_eng[k] == want, (k, got_eng[k], want)


def test_stage23_balanced_counts(spark, ref):
    _check_stage23_balance(spark, ref)


def _group_key(r) -> str:
    if r.prompt_type == "post-generation" and r.structure:
        return f"post-{r.structure}"
    return r.prompt_type


def _check_stage23_split(spark, arts: dict) -> None:
    """Per-group SFT/DPO counts: reference takes int(n*0.8) per group;
    the engine's grouped_split uses floor(n*0.8) — identical for
    positive n. Assignment is seeded-random on both sides and not
    compared; the counts are the contract."""
    bal = [_group_key(r) for r in
           _combo_frame(spark, arts["balanced"]).collect()]
    group_n = Counter(bal)
    expected_sft = {g: int(n * 0.8) for g, n in group_n.items()}
    got_sft = Counter(_group_key(r) for r in
                      _combo_frame(spark, arts["sft"]).collect())
    got_dpo = Counter(_group_key(r) for r in
                      _combo_frame(spark, arts["dpo"]).collect())
    assert dict(got_sft) == {g: n for g, n in expected_sft.items() if n}
    assert {g: got_sft.get(g, 0) + got_dpo.get(g, 0)
            for g in group_n} == dict(group_n)
    # engine grouped_split on the same balanced rowset yields the same
    # per-group counts
    from social_media_ai_engineering_etl_spark.operators.sampling import (
        grouped_split)
    cf = _combo_frame(spark, arts["balanced"])
    gk = F.when((F.col("prompt_type") == "post-generation")
                & F.col("structure").isNotNull(),
                F.concat(F.lit("post-"), F.col("structure"))
                ).otherwise(F.col("prompt_type"))
    split = grouped_split(cf.withColumn("gkey", gk), F.col("gkey"))
    eng_sft = Counter(r.gkey for r in
                      split.filter(F.col("split") == "sft").collect())
    assert dict(eng_sft) == {g: n for g, n in expected_sft.items() if n}


def test_stage23_split_counts(spark, ref):
    _check_stage23_split(spark, ref)


def test_stage23_seeded_rerun_is_identical(ref):
    """Same seed, same input -> byte-identical split artifacts
    (validates the harness against the reference's own determinism
    contract, tests/test_split_determinism.py)."""
    tmp, bd, env, cwd = ref["tmp"], ref["bd"], ref["env"], ref["cwd"]
    _run_ref("23-split.py",
             ["--input", ref["s22"], "--run-id", "r2", "--base-dir", bd,
              "--seed", str(SEED)], cwd, env)
    for name in ("23-balanced-dataset.csv", "23-sft.csv", "23-dpo.csv"):
        a = open(os.path.join(bd, "r", name), "rb").read()
        b = open(os.path.join(bd, "r2", name), "rb").read()
        assert a == b, f"{name} differs across same-seed reruns"


# ---------------------------------------------------------------------------
# stage 24 — violation negatives (unseeded randomness normalized)
# ---------------------------------------------------------------------------

_URL_RE = re.compile(r"https://lnkd\.in/[A-Za-z0-9]{8}")
_NAME_RE = re.compile(
    r"Shout out to (John Doe|Jane Smith|Alex Johnson|Chris Lee)!")
_FILLER_RE = re.compile(r"(?: Lorem ipsum dolor sit amet\.)+")


def _norm24(s: str) -> str:
    from social_media_ai_engineering_etl_spark.operators.negatives import (
        EMOJI_ALPHABET)
    s = _URL_RE.sub("https://lnkd.in/XXXXXXXX", s)
    s = _NAME_RE.sub("Shout out to [NAME]!", s)
    s = re.sub("[" + re.escape("".join(EMOJI_ALPHABET)) + "]+", "[E]", s)
    s = _FILLER_RE.sub(" [FILLER]", s)
    return s


def _check_stage24(spark, arts: dict, min_exact: int = 20,
                   min_halved: int = 5) -> None:
    """Byte-compare engine vs reference negatives after normalizing
    the reference's three unseeded-random spans (URL suffix, name,
    emoji tail) and collapsing the length filler (whose repeat count
    varies with the random name length). The halving branch
    ('between' lengths) is checked by exact length relation instead —
    the cut position depends on the random name."""
    from social_media_ai_engineering_etl_spark.operators import (
        negatives as neg)
    rows = _read_csv(arts["dpo"])
    ready = _read_csv(arts["dpo_ready"])
    assert len(rows) == len(ready)
    postgen = [i for i, w in enumerate(rows)
               if "Create a LinkedIn post that" in w["prompt"]]
    assert postgen, "no post-generation rows reached stage 24"
    # rows NOT post-generation pass through untouched
    for i, (a, b) in enumerate(zip(rows, ready)):
        if i not in postgen:
            assert a == b

    df = spark.createDataFrame(
        [(rows[i]["prompt"], rows[i]["chosen"]) for i in postgen],
        "prompt string, chosen string")
    length_req = F.trim(F.regexp_extract(
        F.col("prompt"), r"\*\*Suggested Post Length\*\*:\s*([^\n]*)", 1))
    eng = neg.with_rejected(df, "prompt", "chosen").select(
        "prompt", "chosen",
        F.lower(length_req).alias("lreq"), "rejected").collect()

    n_exact = n_halved = 0
    for erow, i in zip(eng, postgen):
        ref_rej = ready[i]["rejected"]
        assert ref_rej and ref_rej != rows[i]["rejected"]
        if "between" in erow.lreq:
            # halving branch: reference cut = max(1, int(L/2)) where L
            # is the pre-halving construction; the random name length
            # makes L one of four values
            cands = set()
            for name in ("John Doe", "Jane Smith", "Alex Johnson",
                         "Chris Lee"):
                pre = (erow.chosen
                       + "\n\nLearn more: https://lnkd.in/AAAAAAAA"
                       + f"\n\nShout out to {name}!")
                eu = _ref_emoji_usage(rows[i]["prompt"])
                if eu in ("none", "infrequent"):
                    pre += "\n\n" + "E" * 10
                pre = pre.rstrip() + "\n\n" + " ".join(
                    f"#tag{k}" for k in range(6))
                cands.add(max(1, int(len(pre) * 0.5)))
            assert len(ref_rej) in cands, (len(ref_rej), cands)
            # the engine applies the same cut law to its own build
            assert len(erow.rejected) in cands
            n_halved += 1
        else:
            assert _norm24(ref_rej) == _norm24(erow.rejected), i
            n_exact += 1
    assert n_exact >= min_exact and n_halved >= min_halved


def test_stage24_negatives_structure(spark, ref):
    _check_stage24(spark, ref, min_exact=21, min_halved=6)


def _ref_emoji_usage(prompt: str) -> str:
    m = re.search(r"\*\*Emoji Usage\*\*:\s*([^\n]*)", prompt)
    return (m.group(1).strip().lower() if m else "")


def _check_stage1_knobs(spark, arts: dict, run_id: str,
                        top: float, bot: float, clamp: float,
                        keep_bottom: bool,
                        expect_bottom: bool = False) -> None:
    """Stage 1 under non-default knobs: reference subprocess vs
    engine with the same parameters."""
    from social_media_ai_engineering_etl_spark.functions.engagement import (
        engagement_ratio, with_tiers)
    bd, env, cwd = arts["bd"], arts["env"], arts["cwd"]
    args = ["--input", arts["gen"], "--run-id", run_id,
            "--base-dir", bd, "--reports-dir", cwd,
            "--top-pct", str(top), "--bottom-pct", str(bot),
            "--clamp", str(clamp)]
    if keep_bottom:
        args.append("--keep-bottom")
    _run_ref("1-find-gradient.py", args, cwd, env)
    want_rows = _read_jsonl(os.path.join(bd, run_id,
                                         "01-best-posts.jsonl"))
    raw = _flat_posts(arts["gen"])
    for i, p in enumerate(raw):
        p["post_id"] = p.get("post_id") or f"idx{i}"
    schema = T.StructType([
        T.StructField("post_id", T.StringType()),
        T.StructField("follower_count", T.LongType()),
        T.StructField("comments_count", T.LongType()),
        T.StructField("total_likes_count", T.LongType()),
        T.StructField("shares_count", T.LongType()),
    ])
    rows = [tuple(p.get(f.name) for f in schema.fields) for p in raw]
    df = spark.createDataFrame(rows, schema)
    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    scored = df.withColumn("engagement_ratio", engagement_ratio(
        z("comments_count"), z("total_likes_count"), z("shares_count"),
        z("follower_count"), clamp=clamp))
    eng = with_tiers(scored, top_q=top, bot_q=bot,
                     keep_bottom=keep_bottom)
    got = Counter((r["post_id"], round(r["engagement_ratio"], 9), r["tier"])
                  for r in eng.collect())
    want = Counter((w["post_id"], round(w["engagement_ratio"], 9),
                    w["tier"]) for w in want_rows)
    assert got == want
    if keep_bottom:
        # keep-bottom: the whole input survived (no filter)
        assert sum(want.values()) == len(raw)
    if expect_bottom:
        # non-degeneracy probe for the FIXED corpus only: a fuzz
        # corpus with heavy zero-ratio mass can legitimately have an
        # empty Tier C (the bottom cutoff lands on 0 in BOTH engines,
        # equality already asserted above); the label text carries the
        # percentile, so match the prefix
        assert any(t.startswith("Tier C") for (_, _, t) in want)


def test_stage1_nondefault_knobs(spark, ref):
    """Parameter plumbing pin: stage 1 with --keep-bottom
    --top-pct 0.9 --bottom-pct 0.5 --clamp 0.1 must match the engine
    with the same knobs (keep_bottom keeps Tier C rows; the clamp
    moves the saturation point; the percentiles move both cutoffs)."""
    _check_stage1_knobs(spark, ref, "gknobs", 0.9, 0.5, 0.1, True,
                        expect_bottom=True)


# ---------------------------------------------------------------------------
# stage 2 — emoji-frequency binning + length buckets (VERDICT r7 ask #7)
# ---------------------------------------------------------------------------

def _emoji_shim_pattern() -> str:
    """EMOJI_CLASS (Java \\x{..} syntax) converted to a CPython
    pattern for the subprocess shim."""
    from social_media_ai_engineering_etl_spark.functions.textstats import (
        EMOJI_CLASS)
    return re.sub(r"\\x\{([0-9A-Fa-f]+)\}",
                  lambda m: ("\\U%08X" % int(m.group(1), 16)
                             if int(m.group(1), 16) > 0xFFFF
                             else "\\u%04X" % int(m.group(1), 16)),
                  EMOJI_CLASS)


def _stage2_env(arts: dict) -> dict:
    """Stage-2 env: the base shims plus an `emojis` module visible to
    2-label.py ONLY (its top-level import; package absent from the
    sandbox).  The shim counts via the engine's measured emoji class,
    so the differential pins the frequency/bin/length ARITHMETIC and
    the skip semantics — emoji-set membership is shared by
    construction, stated here, not proven.  Kept out of the chain's
    shared PYTHONPATH on purpose: features/bullets.py probe-imports
    `emojis` per line inside try/except, and a globally visible shim
    would silently flip the reference's effective bullet semantics."""
    s2shim = os.path.join(arts["cwd"], "shim2")
    os.makedirs(s2shim, exist_ok=True)
    with open(os.path.join(s2shim, "emojis.py"), "w",
              encoding="utf-8") as f:
        f.write("import re\n_P = re.compile(%r)\n"
                "def count(s):\n    return len(_P.findall(s))\n"
                % _emoji_shim_pattern())
    env = dict(arts["env"])
    env["PYTHONPATH"] = env["PYTHONPATH"] + ":" + s2shim
    return env


def _check_stage2(spark, arts: dict, run_id: str,
                  bins: list[tuple[float, str]] | None = None) -> None:
    """2-label.py subprocess vs the engine's P5/P6 columns
    (textstats.emoji_count / bin_label / length_bucket) on stage 1's
    output + appended malformed lines covering the skip paths."""
    from social_media_ai_engineering_etl_spark.functions import textstats
    s2in = os.path.join(arts["cwd"], f"{run_id}-in.jsonl")
    with open(arts["gen1"], encoding="utf-8") as src, \
            open(s2in, "w", encoding="utf-8") as dst:
        dst.write(src.read())
        # skip paths: blank line, invalid JSON, empty/missing post_text
        dst.write("\n{not json\n")
        dst.write(json.dumps({"post_text": ""}) + "\n")
        dst.write(json.dumps({"other": 1}) + "\n")
    args = ["--run-id", run_id, "--base-dir", arts["bd"],
            "--input", s2in]
    if bins is not None:
        bins_path = os.path.join(arts["cwd"], f"{run_id}-bins.json")
        with open(bins_path, "w", encoding="utf-8") as f:
            json.dump([{"threshold": t, "label": lb}
                       for t, lb in bins], f)
        args += ["--emoji-bins", bins_path]
    _run_ref("2-label.py", args, arts["cwd"], _stage2_env(arts))
    out_path = os.path.join(arts["bd"], run_id, "02-labeled.jsonl")

    # the reference's lenient read: strip, JSON-or-skip, truthy text
    valid = []
    with open(s2in, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                post = json.loads(line)
            except json.JSONDecodeError:
                continue
            if post.get("post_text", ""):
                valid.append(post["post_text"])
    df = spark.createDataFrame([(t,) for t in valid],
                               "post_text string")
    ec = textstats.emoji_count(F.col("post_text"))
    n = F.length("post_text")
    freq = F.when(n > 0, ec.cast("double") / n).otherwise(F.lit(0.0))
    use_bins = tuple(bins) if bins is not None else textstats.EMOJI_BINS
    got = Counter(
        (r.post_text, r.ec, r.tl, round(r.fr, 12), r.us, r.ml)
        for r in df.select(
            "post_text", ec.alias("ec"), n.alias("tl"),
            freq.alias("fr"),
            textstats.bin_label(freq, use_bins).alias("us"),
            textstats.length_bucket(F.col("post_text")).alias("ml"))
        .collect())
    want_rows = _read_jsonl(out_path)
    want = Counter(
        (w["post_text"], w["emoji_count"], w["text_length"],
         round(w["emoji_frequency"], 12), w["emoji_usage"],
         w["max_length"])
        for w in want_rows)
    assert len(want_rows) == len(valid)     # skip paths really skipped
    assert got == want


def test_stage2_labels_match_reference(spark, ref):
    """Fixed corpus, default bins — plus a non-degeneracy assert on
    the length buckets (the emoji column may legitimately be all
    'none' on an emoji-free corpus; the fuzz corpora carry emoji)."""
    _check_stage2(spark, ref, "s2chk")
    out = _read_jsonl(os.path.join(ref["bd"], "s2chk",
                                   "02-labeled.jsonl"))
    assert len({w["max_length"] for w in out}) >= 2


# ---------------------------------------------------------------------------
# stage 5 — two-pass combo balancer (VERDICT r7 ask #7)
# ---------------------------------------------------------------------------

_S5_RUNNER = r'''
import importlib.util, json, sys
spec = importlib.util.spec_from_file_location(
    "stage5", "/root/reference/5-balance.py")
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
cap = None if sys.argv[3] == "none" else int(sys.argv[3])
res = m.two_pass_balance_dataset(
    input_file=sys.argv[1], output_file=sys.argv[2],
    base_dir=sys.argv[4], target_cap=cap,
    augment_fraction=float(sys.argv[5]), seed=int(sys.argv[6]))
print(json.dumps({"final_size": res["final_size"],
                  "combos": res["combos"]}))
'''


def _write_stage5_shims(shim_dir: str) -> None:
    """nlpaug/nltk import shims: SynonymAug constructs as a no-op and
    its augment() RAISES — with augment_fraction=1.0 the raise proves
    the reference's except-degrade path (replace_synonyms_nlpaug
    returns the text unchanged); with 0.0 it is never called."""
    pkg = os.path.join(shim_dir, "nlpaug", "augmenter")
    os.makedirs(pkg, exist_ok=True)
    for init in (os.path.join(shim_dir, "nlpaug", "__init__.py"),
                 os.path.join(pkg, "__init__.py")):
        open(init, "w").close()
    with open(os.path.join(pkg, "word.py"), "w") as f:
        f.write("class SynonymAug:\n"
                "    def __init__(self, *a, **k):\n        pass\n"
                "    def augment(self, text):\n"
                "        raise RuntimeError('augmenter unavailable')\n")
    with open(os.path.join(shim_dir, "nltk.py"), "w") as f:
        f.write("def download(*a, **k):\n    return None\n")


_S5_STRUCTURES = ("announcement", "reflective", "educational")
_S5_EMOJI = ("none", "low", "high")
_S5_LENGTHS = ("Up to 750 characters long",
               "Between 750 and 1,500 characters long")


def _gen_stage5_posts(n: int, seed: int) -> list[dict]:
    rng = random.Random(seed)
    posts = []
    for i in range(n):
        p = {"post_id": f"p{i}",
             "post_text": " ".join(rng.choices(_WORDS, k=8)),
             # zipf-ish skew so some combos downsample, some upsample
             "structure": _S5_STRUCTURES[
                 min(int(rng.random() ** 2 * 3), 2)],
             "emoji_usage": rng.choice(_S5_EMOJI),
             "max_length": (_S5_LENGTHS[0] if rng.random() < 0.8
                            else _S5_LENGTHS[1])}
        r = rng.random()
        if r < 0.04:
            del p["structure"]            # None key -> skipped
        elif r < 0.08:
            p["emoji_usage"] = None
        posts.append(p)
    return posts


def _check_stage5(spark, tmp, seed: int, target_cap: int | None,
                  augment_fraction: float, n: int = 800) -> None:
    """5-balance.py (via importlib; nlpaug/nltk shimmed) vs the
    engine's sampling.balance_to_average on the same rows: every
    combo lands at exactly avg_target = max(1, min(total//combos,
    cap)); output rows are drawn from the combo's input rows; the
    closed form and the engine agree with the reference subprocess."""
    from social_media_ai_engineering_etl_spark.operators import sampling
    import pathlib
    tmp = pathlib.Path(tmp)
    shim = str(tmp / "shim5")
    os.makedirs(shim, exist_ok=True)
    _write_stage5_shims(shim)
    env = os.environ.copy()
    env["PYTHONPATH"] = f"{REF}:{shim}"

    posts = _gen_stage5_posts(n, seed)
    inp = tmp / "s5-in.jsonl"
    with open(inp, "w", encoding="utf-8") as f:
        for p in posts:
            f.write(json.dumps(p, ensure_ascii=False) + "\n")
        f.write("\n{not json\n")          # lenient-read skip paths
    outp = tmp / "s5-out.jsonl"
    cap_arg = "none" if target_cap is None else str(target_cap)
    r = subprocess.run(
        [sys.executable, "-c", _S5_RUNNER, str(inp), str(outp),
         cap_arg, str(tmp / "s5bd"), str(augment_fraction), str(seed)],
        cwd=str(tmp), env=env, capture_output=True, text=True,
        timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]

    key = lambda p: (p.get("structure"), p.get("emoji_usage"),  # noqa: E731
                     p.get("max_length"))
    valid = [p for p in posts if None not in key(p)]
    in_counts = Counter(key(p) for p in valid)
    avg = int(len(valid) / len(in_counts))
    if target_cap is not None:
        avg = min(avg, int(target_cap))
    avg = max(1, avg)

    out_posts = _read_jsonl(str(outp))
    out_counts = Counter(key(p) for p in out_posts)
    assert out_counts == {k: avg for k in in_counts}
    # row identity: every output row is one of the combo's input rows
    # (the bombed augmenter degrades to an unchanged copy)
    in_ids = {k: {p["post_id"] for p in valid if key(p) == k}
              for k in in_counts}
    for p in out_posts:
        assert p["post_id"] in in_ids[key(p)]
    # non-degeneracy: the skewed corpus always downsamples somewhere;
    # upsampling only exists when the target sits above the smallest
    # combo (a small cap legitimately puts every combo above target)
    assert any(v > avg for v in in_counts.values()), "no downsample"
    if target_cap is None:
        assert any(v < avg for v in in_counts.values()), "no upsample"

    # engine balancer on the same rows: identical per-combo counts
    df = spark.createDataFrame(
        [(p["post_id"], p.get("structure"), p.get("emoji_usage"),
          p.get("max_length")) for p in valid],
        "post_id string, structure string, emoji_usage string, "
        "max_length string")
    bal = sampling.balance_to_average(
        df, ["structure", "emoji_usage", "max_length"],
        target_cap=target_cap, seed=seed)
    got = Counter((r.structure, r.emoji_usage, r.max_length)
                  for r in bal.collect())
    assert got == out_counts


def test_stage5_balance_matches_reference(spark, tmp_path):
    """Fixed seeds over the knob grid: uncapped/capped crossed with
    augment-on (bombed augmenter -> except-degrade) and augment-off."""
    _check_stage5(spark, tmp_path / "a", 71, None, 1.0)
    _check_stage5(spark, tmp_path / "b", 72, 7, 0.0)


# ---------------------------------------------------------------------------
# randomized differential fuzzing (VERDICT r6 ask #1)
# ---------------------------------------------------------------------------

def run_fuzz_checks(spark, tmp, seed: int,
                    n_posts: int = N_FUZZ_POSTS) -> dict:
    """Generate one seeded fuzz corpus, run the reference chain on it
    and drive every stage comparison.  Returns the artifact dict so a
    caller (or a failed test's tmp dir) can be used for replay."""
    from social_media_ai_engineering_etl_spark.functions import cleaning

    posts = _gen_posts(n_posts, seed=seed, fuzz=True)
    arts = run_reference_chain(tmp, posts, seed=seed, ascii_jsonl=True)
    _check_stage1(spark, arts["gen"], arts["gen1"])
    # randomized stage-1 knobs per corpus: quantile boundaries and the
    # clamp move the exact-percentile cutoffs onto fresh data points
    krng = random.Random(seed ^ 0xC0FFEE)
    bot = round(krng.uniform(0.1, 0.6), 2)
    top = round(krng.uniform(bot + 0.05, 0.95), 2)
    clamp = krng.choice([0.01, 0.05, 0.1, 0.5, 1.0])
    _check_stage1_knobs(spark, arts, "fknobs", top, bot, clamp,
                        keep_bottom=krng.random() < 0.5)
    # stage 2 with randomized bin thresholds (VERDICT r7 ask #7): a
    # seeded ladder of 4 interior thresholds between 1e-5 and 5e-2,
    # bracketed by the none/extreme rails, exercises the <=-boundary
    # binning on fresh frequencies every corpus
    ts = sorted(10 ** krng.uniform(-5, -1.3) for _ in range(4))
    fuzz_bins = ([(0.0, "none")]
                 + list(zip(ts, ["very low", "low", "medium", "high"]))
                 + [(1.0, "extreme")])
    _check_stage2(spark, arts, "f2chk", bins=fuzz_bins)
    # stage 5 with randomized cap / augment knobs
    _check_stage5(spark, os.path.join(str(tmp), "s5"), seed,
                  target_cap=krng.choice([None, 3, 11, 40]),
                  augment_fraction=krng.choice([0.0, 1.0]))
    _assert_cleaner(spark, arts["gen"], arts["s7"], "topic", "topic",
                    cleaning.is_disallowed)
    _assert_cleaner(spark, arts["s7"], arts["s12"], "opinion", "opinion",
                    cleaning.is_disallowed_opinion)
    _assert_cleaner(spark, arts["s12"], arts["s15"], "context", "context",
                    cleaning.is_disallowed_context_effective)
    _check_stage18(spark, arts, min_prompts=10)
    _check_stage22(spark, arts, min_pairs=40)
    _check_stage23_balance(spark, arts)
    _check_stage23_split(spark, arts)
    _check_stage24(spark, arts, min_exact=1, min_halved=0)
    return arts


@pytest.mark.parametrize("seed", FUZZ_SEEDS)
def test_fuzz_differential(spark, tmp_path, seed):
    """Seeded random-corpus differential: fresh corpora through the
    same subprocess harness and stage checks as the fixed corpus.
    SPARK_GRAFT_FUZZ_N widens the sweep (default 2);
    scripts/fuzz_differential.py is the unbounded CLI."""
    run_fuzz_checks(spark, tmp_path, seed)
