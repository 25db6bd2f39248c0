"""Staged end-to-end pipeline — the engine's `make run-e2e`
(Makefile:40-69; SURVEY §3.1): each stage reads the PREVIOUS stage's
parquet snapshot, runs a pure DataFrame transform, materializes its
own snapshot under the run directory, and commits to the manifest —
re-running only when the content-hash signature of (inputs + config +
stage version) changes, exactly the reference's skip logic
(utils/manifest.py:56-62).

The in-memory composition of the same chain is ``qe2e_training_mix``
(one Catalyst plan, no materialization); this module is the
artifact-per-stage variant for incremental workflows — at 100 TB you
re-run one changed stage, not the pipeline.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cleaning
from ..operators import fanout
from ..operators import negatives as neg
from .manifest import (STAGE_VERSION, Manifest, artifact_hasher, run_stage,
                       signature_from_hasher, write_contract)


def _stage_posts(docs: DataFrame) -> DataFrame:
    """Stage 01-shaped: documents -> post-grain feature columns."""
    from ..queries.pairs_sampling import _derive_posts
    return _derive_posts(docs)


def _stage_pairs(posts: DataFrame) -> DataFrame:
    """Stage 22: F1 fan-out -> (prompt, chosen) training pairs."""
    return fanout.generate_training_pairs(posts, id_cols=("doc_id",))


def _stage_split(pairs: DataFrame) -> DataFrame:
    """Stage 23: prompt-type classification + deterministic md5-bucket
    80/20 SFT/DPO split (the content-hash B6 variant)."""
    bucket = (F.conv(F.substring(F.md5(F.col("prompt").cast("binary")), 1, 4),
                     16, 10).cast("long") % 5)
    return (pairs
            .withColumn("prompt_type",
                        cleaning.classify_prompt_type(F.col("prompt")))
            .withColumn("split", F.when(bucket < 4, F.lit("sft"))
                        .otherwise(F.lit("dpo"))))


def _stage_negatives(df: DataFrame) -> DataFrame:
    """Stage 24: DPO rows get a violation-composed 'rejected'."""
    return neg.with_rejected(df.filter(F.col("split") == "dpo"),
                             "prompt", "chosen")


def _split_violation() -> Column:
    """P18-style gate: a row violates it unless it lands in a known
    split bucket with a non-empty prompt; any violation aborts the
    manifest commit.  Null-safe: a NULL split or NULL prompt makes
    both predicates NULL, which a plain filter silently drops —
    exactly the rows the gate exists to catch (ADVICE r1) — so both
    are coalesced first."""
    return (~F.coalesce(F.col("split").isin("sft", "dpo"), F.lit(False))
            | (F.coalesce(F.trim(F.col("prompt")), F.lit("")) == ""))


STAGES = (
    ("01-posts", _stage_posts, None),
    ("22-pairs", _stage_pairs, None),
    ("23-split", _stage_split, _split_violation),
    ("24-negatives", _stage_negatives, None),
)


def run_e2e(spark: SparkSession, sf_dir: str, run_dir: str,
            config: dict | None = None) -> list[dict]:
    """Run the staged chain with memoization; returns per-stage
    {stage, rows, skipped}. A second invocation with unchanged inputs
    skips every stage (reuses the snapshots); editing any upstream
    snapshot or the config re-runs exactly the affected suffix.

    Spark jobs: a fresh run costs 6, one per write (four snapshots and
    the CSV) and the schema inference of ``documents.parquet``. The
    CSV's parquet mirror is a file copy of the terminal snapshot, not
    a second write of its rows. Row counts and the split stage's gate
    come from the writes and every snapshot is read with the schema
    its manifest entry records, so no job re-derives either. A
    memoized re-run whose snapshots still match their recorded sha256
    costs no job at all (see plans/manifest.py)."""
    config = config or {}
    manifest = Manifest(run_dir)
    report = []
    inp = os.path.join(sf_dir, "documents.parquet")
    # every artifact is content-hashed exactly ONCE per run: the same
    # sha256 stream serves the stage's memoization signature AND the
    # written stage's S9 contract sidecar (ADVICE r1: the double hash
    # doubled incremental-rerun I/O)
    inp_h = artifact_hasher([inp])
    snap = None
    for stage, transform, violation in STAGES:
        # a stage reads its input only when it runs: documents by path,
        # every later input as the previous snapshot's schema-known read
        def fn(sp, path, transform=transform, prev=snap):
            return transform(prev.df if prev else sp.read.parquet(path))

        snap = run_stage(spark, manifest, stage, [inp], config, fn,
                         invalid=violation() if violation else None,
                         signature=signature_from_hasher(inp_h, config))
        inp, inp_h = manifest.stage_output(stage), snap.hasher
        # S9 contract sidecar per stage (deterministic content — a
        # memoized re-run rewrites identical bytes)
        write_contract(inp, schema_version=STAGE_VERSION,
                       row_count=snap.rows, signature=inp_h.hexdigest())
        report.append({"stage": stage, "rows": snap.rows,
                       "skipped": snap.skipped})
    # S5/S6 terminal CSV + parquet mirror for downstream consumers;
    # only rewritten when the terminal stage actually ran. The mirror
    # holds the terminal snapshot's rows, so it is a copy of its files
    csv_out = os.path.join(run_dir, "training-mix.csv")
    if not snap.skipped or not os.path.exists(csv_out):
        snap.df.write.mode("overwrite").option("header", "true").csv(csv_out)
        mirror = csv_out + ".parquet"
        shutil.rmtree(mirror, ignore_errors=True)
        shutil.copytree(inp, mirror)
    return report
