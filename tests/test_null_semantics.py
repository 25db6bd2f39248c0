"""Pins for the degenerate-parity engine fixes.

``scripts/verify_driver.py sf_dir --regime null|const|single`` compares
every oracle-paired query against DuckDB on null-heavy / constant /
single-row fixtures; its runs surfaced a class of REAL engine bugs
where a NULL silently took a default instead of propagating (str(None)
tokens, least() skipping NULL operands, fp-nullness standing in for
row presence, non-null-safe predicate splits, concat_ws skipping a
NULL line).  Each fix gets a direct pin here so the class cannot
regress without the full sweep.
"""

from pyspark.sql import functions as F


def test_cosine_null_vector_is_null_not_zero(spark):
    """cosine(NULL, v) must be NULL (missing vector), never 0.0
    ('orthogonal') — otherwise(0.0) caught NULLs before r5."""
    from social_media_ai_engineering_etl_spark.operators.dedup import cosine
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [1.0, 0.0]),
         (2, None, [1.0, 0.0]),
         (3, [0.0, 0.0], [1.0, 0.0])],
        "id long, a array<double>, b array<double>")
    rows = {r["id"]: r["c"] for r in
            df.select("id", cosine(F.col("a"), F.col("b")).alias("c"))
              .collect()}
    assert rows[1] == 1.0
    assert rows[2] is None          # missing vector -> NULL
    assert rows[3] == 0.0           # zero-norm -> 0.0 (unchanged)


def test_b17_styles_of_null_text_are_null_like_oracle(spark, tmp_path):
    """A NULL-text document's derived stage-17 text is NULL, as the
    oracle's ``||`` makes it, so its bullet style and divider are NULL;
    concat_ws skipped the NULL first line and labelled the other two."""
    import duckdb

    import social_media_ai_engineering_etl_spark.queries  # noqa: F401
    from social_media_ai_engineering_etl_spark.registry import (
        ORACLES, QUERIES)
    from social_media_ai_engineering_etl_spark.verify import exact_diff

    spark.createDataFrame(
        [(0, None, "en", "web", None), (1, "hello world", "en", "web", 11)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint").write.parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{tmp_path}/documents.parquet/*.parquet')")
    for name, col in (("q17_bullet_styles_17", "style"),
                      ("q17_divider_styles_17", "divider")):
        got = QUERIES[name](spark, str(tmp_path)).toPandas()
        assert exact_diff(got, con.execute(ORACLES[name]).fetchdf()) is None
        counts = dict(zip(got[col], got["n"]))
        assert counts.get(None) == 1, (name, counts)
    con.close()


def test_avg_word_length_and_quality_null_text(spark):
    """NULL text -> NULL stats: least() SKIPS null operands in Spark,
    so quality_score's length term scored a missing document as
    'perfect length' (0.25 total) before r5."""
    from social_media_ai_engineering_etl_spark.functions.textstats import (
        avg_word_length)
    from social_media_ai_engineering_etl_spark.operators.textquality import (
        quality_score)
    df = spark.createDataFrame([(1, None), (2, "ab cd")],
                               "id long, t string")
    rows = {r["id"]: (r["awl"], r["q"]) for r in
            df.select("id", avg_word_length(F.col("t")).alias("awl"),
                      quality_score(F.col("t")).alias("q")).collect()}
    assert rows[1] == (None, None)
    assert rows[2][0] == 2.0 and rows[2][1] is not None


def test_snapshot_diff_null_fingerprint_is_not_presence(spark):
    """A row whose fingerprint is genuinely NULL exists in its
    snapshot: presence must come from join flags, not fp nullness —
    the old fp-as-presence shortcut classified (k=1, NULL) in both
    snapshots as an INSERT."""
    from social_media_ai_engineering_etl_spark.operators.scale import (
        snapshot_diff)
    old = spark.createDataFrame(
        [(1, None), (2, "a"), (3, "x")], "k long, fp string")
    new = spark.createDataFrame(
        [(1, None), (2, "b"), (4, "y")], "k long, fp string")
    got = {r["k"]: r["change_type"]
           for r in snapshot_diff(old, new, "k", "fp").collect()}
    # k=1: NULL -> NULL fp is UNCHANGED (null-safe compare), not insert
    assert got == {2: "update", 3: "delete", 4: "insert"}
    # NULL -> value IS a change
    old2 = spark.createDataFrame([(1, None)], "k long, fp string")
    new2 = spark.createDataFrame([(1, "now")], "k long, fp string")
    assert [r["change_type"] for r in
            snapshot_diff(old2, new2, "k", "fp").collect()] == ["update"]


def test_funnel_reports_zero_user_steps(spark):
    """Every funnel step appears even when nobody reached it — a
    groupBy silently dropped empty steps before r5."""
    from social_media_ai_engineering_etl_spark.operators.behavior import (
        funnel_steps)
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "view")],
        "user_id long, ts string, event_type string").withColumn(
        "ts", F.to_timestamp("ts"))
    rows = [(r["step"], r["event_type"], r["n_users"]) for r in
            funnel_steps(ev, ("view", "click", "purchase")).collect()]
    assert rows == [(1, "view", 1), (2, "click", 0), (3, "purchase", 0)]


def test_predicate_split_is_null_safe(spark):
    """`y < c` / `y >= c` do NOT partition a nullable column — the IVM
    fact split now routes NULL years to history instead of dropping
    them from both sides."""
    df = spark.createDataFrame([(1, 1998), (2, 2000), (3, None)],
                               "id long, y int")
    hist = df.filter(F.coalesce(F.col("y") < 1999, F.lit(True)))
    delta = df.filter(F.coalesce(F.col("y") >= 1999, F.lit(False)))
    assert {r["id"] for r in hist.collect()} == {1, 3}
    assert {r["id"] for r in delta.collect()} == {2}
    assert hist.count() + delta.count() == df.count()  # a true partition


def test_balance_counts_null_key_combos(spark):
    """count_distinct over bare key columns skips NULL-key rows; the
    balancer counts combos with a struct so the scalar matches the
    combos the windows actually balance."""
    from social_media_ai_engineering_etl_spark.operators.sampling import (
        balance_to_average)
    df = spark.createDataFrame(
        [(i, "a" if i % 3 == 0 else None) for i in range(30)],
        "id long, grp string")
    out = balance_to_average(df, ["grp"], target_cap=1000, seed=1)
    counts = {r["grp"]: r["n"] for r in
              out.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
                 .collect()}
    # 2 combos (a, NULL), 30 rows -> avg_target 15; both land at 15
    assert counts == {"a": 15, None: 15}


def test_vertical_tab_whitespace_parity(spark, duck):
    """U+000B (vertical tab) is Python isspace() whitespace but sits
    outside RE2's \\s ([\\t\\n\\f\\r ]) and \\p{Z} — the DuckDB
    transcriptions must list it explicitly (r6 ADVICE).  Ground truth
    is CPython; engine (Java (?U)\\s) and oracle (RE2 class) must both
    agree with it on split AND strip."""
    from social_media_ai_engineering_etl_spark.functions.cleaning import (
        PY_STRIP_SQL, PY_WS_SPLIT, PY_WS_SPLIT_RE2, py_strip)
    probe = "alpha\x0bbeta"
    edge = "\x0bunknown\x0b"
    assert probe.split() == ["alpha", "beta"]           # CPython truth
    assert edge.strip() == "unknown"

    df = spark.createDataFrame([(probe, edge)], "p string, e string")
    row = df.select(
        F.split(F.col("p"), PY_WS_SPLIT).alias("parts"),
        py_strip(F.col("e")).alias("stripped")).collect()[0]
    assert row["parts"] == ["alpha", "beta"]
    assert row["stripped"] == "unknown"

    got = duck.execute(
        f"SELECT string_split_regex(?, '{PY_WS_SPLIT_RE2}') AS parts, "
        f"{PY_STRIP_SQL.format(x='?')} AS stripped",
        [probe, edge]).fetchone()
    assert list(got[0]) == ["alpha", "beta"]
    assert got[1] == "unknown"


def test_structure_from_chosen_falsy_input(spark):
    """Reference 23-split.py:135 `if not chosen: return None` fires on
    None or the EXACTLY-empty string BEFORE any strip; whitespace-only
    survives the guard, strips to '' and lands on 'other' (r6 ADVICE —
    the 'other' fix must not swallow the falsy branch)."""
    from social_media_ai_engineering_etl_spark.functions.cleaning import (
        structure_from_chosen)
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "Reflective"), (5, "zzz")],
        "id long, chosen string")
    got = {r["id"]: r["s"] for r in
           df.select("id", structure_from_chosen(F.col("chosen"))
                     .alias("s")).collect()}
    assert got == {1: None, 2: None, 3: "other",
                   4: "reflective", 5: "other"}


def test_json_unwrap_is_cpython_faithful(spark):
    """P7 unwrap vs the reference's json.loads (7-clean-topics.py:45):
    the r7 fuzz program found the JVM parsers' Jackson lenience
    diverging on duplicate keys (first- vs last-wins), single-quoted
    pseudo-JSON (unwrap vs reject) and trailing garbage/whitespace
    ('{...}\\xa0' unwrapped vs 'Extra data' passthrough — caught live
    by fuzz seed 911000).  'Did the parser consume the whole string'
    is not natively expressible, so the unwrap is the Arrow-
    vectorized CPython-exact UDF — this battery pins every class."""
    import json as _json

    from social_media_ai_engineering_etl_spark.functions.cleaning import (
        unwrap_json_field)

    def ref_parse(s):                      # 7-clean-topics.py:45-57
        try:
            p = _json.loads(s)
            if isinstance(p, dict) and "topic" in p:
                return p["topic"]
        except (_json.JSONDecodeError, TypeError):
            pass
        return s

    agree = [
        '{"topic": "plain"}', '\t{"topic": "ws-led"}\n',
        '  {"topic": "sp"}  ', '{"topic": ""}', '{"topic": "q\\"uote"}',
        '{"topic":"esc\\u00e9"}', '{"topic": "du\\np"}',
        '{"topic" : "spaced"}', '{"topic"\n:\n"nl-colon"}',
        '{"topic": "a", "topic": "b"}',            # dup key: LAST wins
        '{"topic": "a", "other": 1, "topic": "c"}',
        "{'topic': 'sq'}",                         # single quotes: reject
        '{topic: "unquoted"}', '{"topic": "x",}', '{}', '{"other": "x"}',
        '{"TOPIC": "case"}', 'not json', '"just a string"',
        '[{"topic": "arr"}]', '\x0b{"topic": "vt-led"}',
        '\u00a0{"topic": "nbsp-led"}', '// c\n{"topic": "c"}',
        '{"topic": "raw\tctl"}',                   # raw control: reject
        '{"a": {"topic": "nested-under-other"}}',
        # whole-document consumption: trailing garbage/whitespace that
        # json.loads rejects ('Extra data') must pass through
        '{"topic": "x"} trailing', '{"topic": "x"}}',
        '{"topic": "x"} {"topic": "y"}', '{"topic": "x"}garbage',
        '{"topic": "x"} ', '\t{"topic": "x"} \x85',
        '{"topic": "x"}\n\t ',                     # legal ws: unwrap
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(agree)],
                               "i long, v string")
    got = {r.i: r.o for r in df.select(
        "i", unwrap_json_field(F.col("v"), "topic").alias("o")).collect()}
    for i, c in enumerate(agree):
        assert got[i] == ref_parse(c), (c, got[i], ref_parse(c))



def test_unicode_alpha_skew_pinned(spark, duck):
    """CPython 3.11 (Unicode 14) / Java 17 (Unicode 13) / DuckDB RE2
    (Unicode 15) disagree on which codepoints are letters — the r7
    fuzzer caught U+9FFF ('鿿') counting as a word in the reference's
    isalpha() filter but not in a Java \\p{L} class, shifting a
    stage-18 vocabulary bucket.  PY_ALPHA_CHAR / PY_ALPHA_CHAR_RE2
    carry the MEASURED deltas (scripts/unicode_skew.py sweeps all
    codepoints); this pin drives every skew codepoint plus boundary
    neighbours through all three engines."""
    import re as _re

    from social_media_ai_engineering_etl_spark.functions.cleaning import (
        _JAVA_ALPHA_EXTRA, _RE2_ALPHA_EXCESS, PY_ALPHA_CHAR,
        PY_ALPHA_CHAR_RE2)

    def expand(cls: str) -> list[int]:
        out = []
        for m in _re.finditer(
                r"\\x\{([0-9A-Fa-f]+)\}(?:-\\x\{([0-9A-Fa-f]+)\})?", cls):
            a = int(m.group(1), 16)
            b = int(m.group(2), 16) if m.group(2) else a
            out.extend(range(a, b + 1))
        return out

    probes = sorted(set(expand(_JAVA_ALPHA_EXTRA)
                        + expand(_RE2_ALPHA_EXCESS)
                        + [0x41, 0xE9, 0x4E00, 0x9FFC, 0x3400, 0xA000,
                           0x2160, 0x00B2, 0x3FFF]))
    pdf = [(cp, chr(cp)) for cp in probes]
    want = {cp: chr(cp).isalpha() for cp in probes}   # CPython truth

    df = spark.createDataFrame(pdf, "cp long, c string")
    got_j = {r.cp: r.m for r in df.select(
        "cp", F.col("c").rlike("^" + PY_ALPHA_CHAR + "$").alias("m"))
        .collect()}
    assert got_j == want, {cp: (got_j[cp], want[cp])
                           for cp in probes if got_j[cp] != want[cp]}

    for cp, ch in pdf:
        (m,) = duck.execute(
            f"SELECT regexp_matches(?, '^{PY_ALPHA_CHAR_RE2}$')",
            [ch]).fetchone()
        assert m == want[cp], (hex(cp), m, want[cp])
