"""Lineage/memoization + connector tests, mirroring the reference's
infrastructure tests (tests/test_manifest_skip_version.py:6-29,
tests/test_run_id_and_discovery.py:8-31) plus JSONL error tolerance
and nested-posts unnesting."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, LongType, StringType, StructField,
                               StructType)

from social_media_ai_engineering_etl_spark.plans import manifest as mf
from social_media_ai_engineering_etl_spark.profile import StatusReader
from social_media_ai_engineering_etl_spark.sources import io as sio


def _write_input(tmp_path, rows):
    p = str(tmp_path / "input.jsonl")
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return p


POST_SCHEMA = StructType([StructField("id", LongType()),
                          StructField("post_text", StringType())])


def test_stage_memoization_skips_unchanged(spark, tmp_path):
    src = _write_input(tmp_path, [{"id": i, "post_text": f"t{i}"}
                                  for i in range(10)])
    man = mf.Manifest(str(tmp_path / "run"))
    calls = []

    def stage(sp, inp):
        calls.append(1)
        return sio.read_jsonl(sp, inp, POST_SCHEMA).withColumn(
            "n", F.length("post_text"))

    a = mf.run_stage(spark, man, "01-stage", [src], {"k": 1}, stage)
    b = mf.run_stage(spark, man, "01-stage", [src], {"k": 1}, stage)
    assert len(calls) == 1                       # second run skipped
    assert (a.skipped, b.skipped) == (False, True)
    assert a.rows == b.rows == a.df.count() == b.df.count() == 10

    # config change invalidates
    mf.run_stage(spark, man, "01-stage", [src], {"k": 2}, stage)
    assert len(calls) == 2

    # input content change invalidates
    _write_input(tmp_path, [{"id": i, "post_text": f"u{i}"}
                            for i in range(10)])
    mf.run_stage(spark, man, "01-stage", [src], {"k": 2}, stage)
    assert len(calls) == 3


def test_stage_version_bump_invalidates(spark, tmp_path, monkeypatch):
    src = _write_input(tmp_path, [{"id": 1, "post_text": "x"}])
    man = mf.Manifest(str(tmp_path / "run"))
    calls = []

    def stage(sp, inp):
        calls.append(1)
        return sio.read_jsonl(sp, inp, POST_SCHEMA)

    mf.run_stage(spark, man, "s", [src], {}, stage)
    monkeypatch.setattr(mf, "STAGE_VERSION", "2")
    mf.run_stage(spark, man, "s", [src], {}, stage)
    assert len(calls) == 2


def test_validation_gates_manifest_commit(spark, tmp_path):
    src = _write_input(tmp_path, [{"id": 1, "post_text": ""}])
    man = mf.Manifest(str(tmp_path / "run"))

    def stage(sp, inp):
        return sio.read_jsonl(sp, inp, POST_SCHEMA)

    try:
        mf.run_stage(spark, man, "s", [src], {}, stage,
                     invalid=F.col("post_text") == "")
        raise AssertionError("expected validation failure")
    except ValueError:
        pass
    assert "s" not in man.doc["stages"]           # no commit


def test_input_discovery_fallback(spark, tmp_path):
    src = _write_input(tmp_path, [{"id": 1, "post_text": "x"}])
    man = mf.Manifest(str(tmp_path / "run"))
    mf.run_stage(spark, man, "11-extract-opinion", [src], {},
                 lambda sp, i: sio.read_jsonl(sp, i, POST_SCHEMA))
    # 17 prefers 15-clean-context -> 12-clean-opinions -> 11-...
    got = man.discover_input(["15-clean-context", "12-clean-opinions",
                              "11-extract-opinion"])
    assert got == man.stage_output("11-extract-opinion")
    assert man.discover_input(["nope"]) is None


def test_jsonl_error_tolerance(spark, tmp_path):
    p = str(tmp_path / "bad.jsonl")
    with open(p, "w") as f:
        f.write('{"id": 1, "post_text": "ok"}\n')
        f.write('not json at all\n')
        f.write('{"id": 2, "post_text": "also ok"}\n')
        f.write('{"id": 3, "post_text": truncated\n')
    good = sio.read_jsonl(spark, p, POST_SCHEMA)
    assert {r.id for r in good.collect()} == {1, 2}
    quarantined = sio.read_jsonl(spark, p, POST_SCHEMA, keep_corrupt=True)
    assert quarantined.filter(F.col(sio.CORRUPT_COL).isNotNull()).count() == 2


def test_nested_posts_unnest(spark, tmp_path):
    p = str(tmp_path / "mixed.jsonl")
    with open(p, "w") as f:
        f.write(json.dumps({"id": 1, "post_text": "flat"}) + "\n")
        f.write(json.dumps({"posts": [{"id": 2, "post_text": "n1"},
                                      {"id": 3, "post_text": "n2"}]}) + "\n")
    schema = StructType(list(POST_SCHEMA.fields)
                        + [StructField("posts", ArrayType(POST_SCHEMA))])
    df = sio.read_jsonl(spark, p, schema)
    out = sio.normalize_posts(df)
    assert sorted(r.id for r in out.collect()) == [1, 2, 3]


def test_contract_sidecar(spark, tmp_path):
    out = str(tmp_path / "artifact")
    df = spark.range(5).withColumnRenamed("id", "n")
    df.write.parquet(out)
    path = mf.write_contract(out, "v1", 5)
    with open(path) as f:
        doc = json.load(f)
    assert doc["schema_version"] == "v1"
    assert doc["counts"]["rows"] == 5
    assert len(doc["signature"]) == 64
    # signature is stable for identical bytes
    assert json.load(open(mf.write_contract(out, "v1", 5)))["signature"] \
        == doc["signature"]


def test_partitioned_sink_prunes_on_read(spark, sf_dir, tmp_path):
    """Partition pruning proof: a lang-filtered read of the
    partitionBy(lang) layout shows the filter in PartitionFilters and
    scans only the matching directory's rows."""
    import os

    from pyspark.sql import functions as F

    from social_media_ai_engineering_etl_spark.sources.io import (
        write_partitioned_parquet)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "by_lang")
    write_partitioned_parquet(docs, out, ("lang",))

    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the lang predicate must land in PartitionFilters (directory
    # pruning), not as a post-scan Filter over all partitions
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:160]
    assert "lang" in pf and "en" in pf, pf
    expected = docs.filter(F.col("lang") == "en").count()
    assert back.count() == expected


def test_cli_list_and_run(tmp_path):
    """The __main__ CLI lists queries, writes a sink artifact, and
    rejects unknown queries with exit code 2."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "social_media_ai_engineering_etl_spark",
         "list"], capture_output=True, text=True, timeout=120)
    assert r.returncode == 0
    assert "q01_tier_counts\toracle" in r.stdout

    out = str(tmp_path / "cli_out.parquet")
    r = subprocess.run(
        [sys.executable, "-m", "social_media_ai_engineering_etl_spark",
         "run", "q01_tier_counts", "--sf-dir", "/root/testdata/sf0.001",
         "--out", out], capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb
    rows = duckdb.connect().execute(
        f"SELECT * FROM '{out}/*.parquet' ORDER BY tier").fetchall()
    assert [t for t, _ in rows] == ["Tier A (Top 20%)",
                                    "Tier B (Middle 40%)"]

    r = subprocess.run(
        [sys.executable, "-m", "social_media_ai_engineering_etl_spark",
         "run", "no_such_query"], capture_output=True, text=True,
        timeout=120)
    assert r.returncode == 2


def test_staged_e2e_pipeline_memoizes(spark, sf_dir, tmp_path):
    """run_e2e materializes 4 stage snapshots + contract; a second
    invocation with unchanged inputs skips every stage."""
    import os

    from social_media_ai_engineering_etl_spark.plans.pipeline import run_e2e

    run_dir = str(tmp_path / "run")
    first = run_e2e(spark, sf_dir, run_dir)
    assert [e["stage"] for e in first] == [
        "01-posts", "22-pairs", "23-split", "24-negatives"]
    assert all(not e["skipped"] for e in first)
    assert all(e["rows"] > 0 for e in first)
    assert os.path.exists(os.path.join(run_dir,
                                       "24-negatives.contract.json"))
    # DPO rows carry a non-empty rejected distinct from chosen
    negs = spark.read.parquet(os.path.join(run_dir, "24-negatives"))
    assert negs.filter((negs.rejected == "")
                       | negs.rejected.isNull()).count() == 0
    assert negs.filter(negs.rejected == negs.chosen).count() == 0

    second = run_e2e(spark, sf_dir, run_dir)
    assert all(e["skipped"] for e in second)
    assert [e["rows"] for e in second] == [e["rows"] for e in first]


def test_staged_e2e_pipeline_config_invalidates(spark, sf_dir, tmp_path):
    """Changing the config re-runs the stages (signature covers
    inputs + config + stage version), without touching the snapshots'
    row counts."""
    from social_media_ai_engineering_etl_spark.plans.pipeline import run_e2e

    run_dir = str(tmp_path / "run")
    first = run_e2e(spark, sf_dir, run_dir, config={"v": 1})
    again = run_e2e(spark, sf_dir, run_dir, config={"v": 1})
    assert all(e["skipped"] for e in again)
    changed = run_e2e(spark, sf_dir, run_dir, config={"v": 2})
    assert all(not e["skipped"] for e in changed)
    assert [e["rows"] for e in changed] == [e["rows"] for e in first]


@pytest.fixture(scope="module")
def fresh_e2e(spark, sf_dir, tmp_path_factory):
    """One fresh run_e2e, its report and the jobs it ran; tests re-run
    it on their own copy of the run dir."""
    from social_media_ai_engineering_etl_spark.plans.pipeline import run_e2e

    run_dir = str(tmp_path_factory.mktemp("e2e") / "run")
    status = StatusReader(spark)
    report = run_e2e(spark, sf_dir, run_dir)
    return run_dir, report, status.jobs()


def _rerun(spark, sf_dir, fresh_e2e, tmp_path, edit=None):
    """Re-run run_e2e on a copy of the fresh run dir, after ``edit``
    (called with the copy) if given; returns (report, jobs ran)."""
    import shutil

    from social_media_ai_engineering_etl_spark.plans.pipeline import run_e2e

    run_dir = str(tmp_path / "run")
    shutil.copytree(fresh_e2e[0], run_dir)
    if edit is not None:
        edit(run_dir)
    status = StatusReader(spark)
    report = run_e2e(spark, sf_dir, run_dir)
    return report, status.jobs()


def test_staged_e2e_job_budget(spark, sf_dir, fresh_e2e, tmp_path):
    """A fresh run costs one job per write (four snapshots and the
    CSV) plus the documents schema inference; the split gate rides on
    its stage's write and the parquet mirror is a file copy.  A
    memoized re-run costs none and reports the same rows."""
    _, first, fresh_jobs = fresh_e2e
    assert all(not e["skipped"] for e in first)
    assert fresh_jobs <= 6
    again, memo_jobs = _rerun(spark, sf_dir, fresh_e2e, tmp_path)
    assert memo_jobs == 0
    assert all(e["skipped"] for e in again)
    assert [(e["stage"], e["rows"]) for e in again] == \
        [(e["stage"], e["rows"]) for e in first]


def _checksum(df):
    """(rows, bit_xor of xxhash64 over every column)."""
    row = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))) \
        .collect()[0]
    return row[0], row[1]


def _data_files(path):
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def _assert_mirror_is_terminal_snapshot(spark, run_dir):
    """The parquet mirror holds exactly the terminal snapshot's files,
    and so its rows."""
    snap = os.path.join(run_dir, "24-negatives")
    mirror = os.path.join(run_dir, "training-mix.csv.parquet")
    assert _data_files(mirror) == _data_files(snap) != []
    assert _checksum(spark.read.parquet(mirror)) == \
        _checksum(spark.read.parquet(snap))


def test_staged_e2e_mirror_is_terminal_snapshot(spark, fresh_e2e):
    """After a fresh run the mirror's rows and checksum are the
    24-negatives snapshot's."""
    run_dir, first, _ = fresh_e2e
    _assert_mirror_is_terminal_snapshot(spark, run_dir)
    assert _checksum(spark.read.parquet(
        os.path.join(run_dir, "24-negatives")))[0] == first[-1]["rows"]


def test_staged_e2e_rerun_mirror_holds_only_new_files(spark, sf_dir,
                                                      fresh_e2e, tmp_path):
    """An upstream edit re-runs the terminal stage; the mirror is
    replaced by the new snapshot's files, none of the old ones kept."""
    import shutil

    old = set(_data_files(os.path.join(fresh_e2e[0],
                                       "training-mix.csv.parquet")))

    def edit_split(run_dir):
        split = os.path.join(run_dir, "23-split")
        tmp = str(tmp_path / "split_subset")
        spark.read.parquet(split).orderBy("doc_id", "pair_idx") \
            .limit(fresh_e2e[1][2]["rows"] // 2).write.parquet(tmp)
        shutil.rmtree(split)
        shutil.move(tmp, split)

    report, _ = _rerun(spark, sf_dir, fresh_e2e, tmp_path, edit_split)
    assert not report[-1]["skipped"]
    run_dir = str(tmp_path / "run")
    assert not old & set(_data_files(
        os.path.join(run_dir, "training-mix.csv.parquet")))
    _assert_mirror_is_terminal_snapshot(spark, run_dir)


def test_staged_e2e_skipped_terminal_rewrites_missing_csv(spark, sf_dir,
                                                          fresh_e2e,
                                                          tmp_path):
    """With every stage memoized but the CSV gone, the run writes the
    CSV (its only job) and the mirror again."""
    import shutil

    def drop_outputs(run_dir):
        shutil.rmtree(os.path.join(run_dir, "training-mix.csv"))
        shutil.rmtree(os.path.join(run_dir, "training-mix.csv.parquet"))

    report, jobs = _rerun(spark, sf_dir, fresh_e2e, tmp_path, drop_outputs)
    assert all(e["skipped"] for e in report)
    assert jobs == 1
    run_dir = str(tmp_path / "run")
    csv = spark.read.option("header", "true").option("multiLine", "true") \
        .csv(os.path.join(run_dir, "training-mix.csv"))
    assert csv.count() == report[-1]["rows"]
    _assert_mirror_is_terminal_snapshot(spark, run_dir)


def test_staged_e2e_snapshot_schema_is_inferred_schema(spark, fresh_e2e):
    """The schema each manifest entry records, which every later read
    of the snapshot uses, is what schema inference reports."""
    from pyspark.sql.types import StructType

    run_dir, first, _ = fresh_e2e
    man = mf.Manifest(run_dir)
    for e in first:
        entry = man.doc["stages"][e["stage"]]
        assert entry["row_count"] == e["rows"]
        assert StructType.fromJson(entry["schema"]) == \
            spark.read.parquet(man.stage_output(e["stage"])).schema
        assert entry["sha256"] == mf.artifact_hasher(
            [man.stage_output(e["stage"])]).hexdigest()


def test_staged_e2e_overwritten_snapshot_reruns_suffix(spark, sf_dir,
                                                       fresh_e2e, tmp_path):
    """A snapshot whose bytes no longer match its record is counted
    again, and every stage downstream of it re-runs on the new bytes."""
    import shutil

    first = fresh_e2e[1]
    n_pairs = first[1]["rows"]
    keep = max(1, n_pairs // 3)

    def overwrite_pairs(run_dir):
        pairs = os.path.join(run_dir, "22-pairs")
        tmp = str(tmp_path / "pairs_subset")
        spark.read.parquet(pairs).orderBy("doc_id", "pair_idx") \
            .limit(keep).write.parquet(tmp)
        shutil.rmtree(pairs)
        shutil.move(tmp, pairs)

    report, _ = _rerun(spark, sf_dir, fresh_e2e, tmp_path, overwrite_pairs)
    assert [(e["stage"], e["skipped"]) for e in report] == [
        ("01-posts", True), ("22-pairs", True),
        ("23-split", False), ("24-negatives", False)]
    assert report[0]["rows"] == first[0]["rows"]
    assert report[1]["rows"] == report[2]["rows"] == keep < n_pairs
    assert report[3]["rows"] <= keep


def test_staged_e2e_legacy_manifest_memoizes_by_counting(spark, sf_dir,
                                                         fresh_e2e, tmp_path):
    """A manifest committed without sha256/schema still skips every
    stage, re-deriving each snapshot's schema and row count with jobs."""
    def strip_new_fields(run_dir):
        path = os.path.join(run_dir, "manifest.json")
        with open(path) as f:
            doc = json.load(f)
        for entry in doc["stages"].values():
            del entry["sha256"], entry["schema"]
        with open(path, "w") as f:
            json.dump(doc, f)

    report, jobs = _rerun(spark, sf_dir, fresh_e2e, tmp_path,
                          strip_new_fields)
    assert all(e["skipped"] for e in report)
    assert [e["rows"] for e in report] == [e["rows"] for e in fresh_e2e[1]]
    assert jobs > 0


def test_run_stage_zero_rows_commits_zero(spark, tmp_path):
    """A stage whose frame is empty commits row_count 0: the observed
    count arrives even though the write job writes no row, and a gate
    that every row would fail counts 0 violations."""
    import threading

    man = mf.Manifest(str(tmp_path / "run"))
    result = {}

    def run():
        result["snap"] = mf.run_stage(
            spark, man, "empty", [], {},
            lambda sp: sp.range(10).filter(F.col("id") < 0),
            invalid=F.col("id") < 0)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "run_stage blocked on the observed row count"
    assert result["snap"].rows == 0
    assert man.doc["stages"]["empty"]["row_count"] == 0
    assert result["snap"].df.count() == 0


def test_run_stage_snapshot_schema_nested_types(spark, tmp_path):
    """The schema-known read of a snapshot with non-nullable nested
    fields matches what schema inference reports."""
    man = mf.Manifest(str(tmp_path / "run"))
    snap = mf.run_stage(
        spark, man, "nested", [], {},
        lambda sp: sp.range(3).select(
            "id", F.array("id").alias("a"),
            F.create_map(F.lit("k"), F.col("id")).alias("m"),
            F.struct(F.col("id").alias("x"),
                     F.array(F.struct(F.col("id").alias("y"))).alias("z"))
            .alias("s")))
    assert snap.df.schema == \
        spark.read.parquet(man.stage_output("nested")).schema
    assert sorted(snap.df.collect()) == sorted(
        spark.read.parquet(man.stage_output("nested")).collect())


def test_e2e_written_artifacts_oracle_checked(tmp_path):
    """Round-2 artifact gate: drive the staged pipeline through the
    REAL CLI twice, then check the WRITTEN files (not in-memory
    frames) with DuckDB — cross-stage invariants recomputed from the
    parquet on disk, per-stage S9 contract sidecars whose sha256
    matches an independent re-hash, the terminal CSV+parquet mirror
    agreeing with each other, and byte-stable artifacts across the
    memoized second run."""
    import json
    import subprocess
    import sys

    import duckdb

    from social_media_ai_engineering_etl_spark.plans.manifest import (
        artifact_hasher)

    run_dir = str(tmp_path / "run")
    cmd = [sys.executable, "-m", "social_media_ai_engineering_etl_spark",
           "pipeline", "--sf-dir", "/root/testdata/sf0.001",
           "--run-dir", run_dir]
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert r1.stdout.count("[ran]") == 4, r1.stdout

    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731

    # cross-stage invariants recomputed from the files themselves
    n_posts = q(f"SELECT count(*) FROM '{run_dir}/01-posts/*.parquet'")
    n_pairs = q(f"SELECT count(*) FROM '{run_dir}/22-pairs/*.parquet'")
    n_split = q(f"SELECT count(*) FROM '{run_dir}/23-split/*.parquet'")
    n_dpo = q(f"SELECT count(*) FROM '{run_dir}/23-split/*.parquet' "
              "WHERE split = 'dpo'")
    n_neg = q(f"SELECT count(*) FROM '{run_dir}/24-negatives/*.parquet'")
    assert n_posts > 0 and n_posts <= n_pairs <= 5 * n_posts
    assert n_split == n_pairs
    assert n_neg == n_dpo > 0
    assert q(f"SELECT count(*) FROM '{run_dir}/23-split/*.parquet' "
             "WHERE split NOT IN ('sft','dpo') OR split IS NULL "
             "OR prompt IS NULL OR trim(prompt) = ''") == 0
    assert q(f"SELECT count(*) FROM '{run_dir}/24-negatives/*.parquet' "
             "WHERE rejected IS NULL OR rejected = '' "
             "OR rejected = chosen") == 0

    # terminal CSV and its parquet mirror agree (S5/S6)
    n_csv = q(f"SELECT count(*) FROM read_csv_auto("
              f"'{run_dir}/training-mix.csv/*.csv', header=true)")
    n_mirror = q("SELECT count(*) FROM "
                 f"'{run_dir}/training-mix.csv.parquet/*.parquet'")
    assert n_csv == n_mirror == n_neg

    # per-stage S9 sidecars: recorded sha256 == independent re-hash
    sigs = {}
    for stage in ("01-posts", "22-pairs", "23-split", "24-negatives"):
        with open(f"{run_dir}/{stage}.contract.json") as f:
            contract = json.load(f)
        rehash = artifact_hasher([f"{run_dir}/{stage}"]).hexdigest()
        assert contract["signature"] == rehash, stage
        sigs[stage] = rehash
    assert len(set(sigs.values())) == 4  # distinct artifacts

    # memoized second run: every stage skips, artifacts byte-stable
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert r2.stdout.count("skipped (memoized)") == 4, r2.stdout
    for stage, old in sigs.items():
        assert artifact_hasher([f"{run_dir}/{stage}"]).hexdigest() == old


def test_grpo_loader_discovery_filter_template(spark, tmp_path):
    """S7 (training/grpo/data.py:20-57): manifest discovery picks the
    recorded 24-negatives output over the fallback; null prompt/chosen
    rows drop; prompts get the add-generation-prompt chat template
    (user turn closed, assistant header open, no assistant content);
    the 80/20 split partitions the filtered rows exactly."""
    from social_media_ai_engineering_etl_spark.plans.manifest import Manifest
    from social_media_ai_engineering_etl_spark.sources.io import (
        load_grpo_training_set)

    run_dir = str(tmp_path / "run")
    out = spark.createDataFrame(
        [("write a post", "the post"), (None, "orphan"),
         ("second", None)] + [(f"p{i}", f"c{i}") for i in range(20)],
        "prompt string, chosen string")
    m = Manifest(run_dir)
    stage_out = m.stage_output("24-negatives")
    out.write.mode("overwrite").parquet(stage_out)
    m.update_stage("24-negatives", "sig", ["x"], 23)

    # decoy fallback CSV that must NOT be read when discovery succeeds
    fallback = str(tmp_path / "fallback.csv")
    spark.createDataFrame([("FB", "FB")], "prompt string, chosen string"
                          ).write.option("header", "true").csv(fallback)

    train, test = load_grpo_training_set(spark, fallback, run_dir=run_dir)
    rows = train.collect() + test.collect()
    assert len(rows) == 21          # 23 minus the two null rows
    assert all(r.prompt.startswith(
        "<|start_header_id|>user<|end_header_id|>\n\n") for r in rows)
    assert all(r.prompt.endswith(
        "<|eot_id|><|start_header_id|>assistant<|end_header_id|>\n\n")
        for r in rows)
    assert not any("FB" in r.prompt for r in rows)
    assert {r.answer for r in rows} >= {"the post"}

    # fallback path: no manifest -> the CSV is the source
    train2, test2 = load_grpo_training_set(spark, fallback)
    rows2 = train2.collect() + test2.collect()
    assert len(rows2) == 1 and rows2[0].answer == "FB"


def test_orc_roundtrip_pushdown(spark, sf_dir, tmp_path):
    """ORC sink/scan: exact roundtrip and filter pushdown reaching the
    ORC reader (same contract the parquet path asserts)."""
    import os
    from social_media_ai_engineering_etl_spark.sources.io import (
        read_orc, write_orc)
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "lang", "n_chars")
    out = str(tmp_path / "docs_orc")
    write_orc(docs, out)
    back = read_orc(spark, out)
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, docs.collect()))
    plan = back.filter(F.col("lang") == "en") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan \
        or "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)" in plan, plan


def test_xml_roundtrip_nested_and_explicit_schema(spark, sf_dir, tmp_path):
    """XML sink/source (built-in since Spark 4): exact roundtrip of a
    frame with a nested struct; the explicit-schema read path (the
    production contract — no double-scan inference) agrees with the
    inferred one."""
    import os

    from social_media_ai_engineering_etl_spark.sources.io import (
        read_xml, write_xml)
    docs = (spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "lang",
                F.struct(F.col("n_chars").alias("chars"),
                         F.col("source").alias("src")).alias("meta"))
        .limit(50))
    out = str(tmp_path / "docs_xml")
    write_xml(docs, out, row_tag="doc", root_tag="docs")
    inferred = read_xml(spark, out, row_tag="doc")
    flat = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["lang"], r["meta"]["chars"], r["meta"]["src"])
        for r in df.collect())
    assert flat(inferred) == flat(docs)
    explicit = read_xml(spark, out, row_tag="doc", schema=docs.schema)
    assert flat(explicit) == flat(docs)
    # the XML reader marks all fields nullable; names/types must match
    assert [(f.name, f.dataType) for f in explicit.schema.fields] == \
        [(f.name, f.dataType) for f in docs.schema.fields]


def test_dynamic_partition_overwrite_is_partition_scoped(spark, tmp_path):
    """overwrite_partitions replaces only the partitions present in
    the incoming frame (idempotent day-backfill); a plain static
    overwrite of the same frame truncates the whole table."""
    from pyspark.sql import functions as F

    from social_media_ai_engineering_etl_spark.sources.io import (
        overwrite_partitions,
        write_partitioned_parquet,
    )
    base = spark.createDataFrame(
        [(d, i, float(i)) for d in ("d1", "d2", "d3") for i in range(10)],
        "day string, k int, v double")
    path = str(tmp_path / "t")
    write_partitioned_parquet(base, path, ("day",))
    assert spark.read.parquet(path).count() == 30

    # backfill d2 with corrected values (5 rows instead of 10)
    fix = spark.createDataFrame(
        [("d2", i, float(i) * 100) for i in range(5)],
        "day string, k int, v double")
    overwrite_partitions(fix, path, ("day",))
    t = spark.read.parquet(path)
    assert t.count() == 25  # d1:10 + d2:5 + d3:10
    assert t.filter("day = 'd2'").agg(
        F.sum("v")).collect()[0][0] == sum(i * 100 for i in range(5))
    assert t.filter("day = 'd1'").count() == 10
    # rerunning the same backfill is a no-op (idempotent)
    overwrite_partitions(fix, path, ("day",))
    assert spark.read.parquet(path).count() == 25
    # conf was restored: a static overwrite now truncates everything
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static") == "static"
    fix.write.mode("overwrite").partitionBy("day").parquet(path)
    assert spark.read.parquet(path).count() == 5
