"""S10 report sinks (PNG/MD charts): out of engine scope per SURVEY §2.1 — driver-side rendering on collected summaries, no executor involvement.

Source/sink connectors (SURVEY §2.1).

S1 error-tolerant JSONL scan, S2 nested-posts unnest, S3 JSONL sink,
S4 CSV scan (the S5 CSV sink and S6 parquet mirror are two writes in
``__main__ run --format csv``). The reference streams files
line-by-line and silently skips bad lines (1-find-gradient.py:33-41);
here that is schema-on-read with PERMISSIVE mode + _corrupt_record,
so bad lines are *observable* (corrupt_records) instead of silently
dropped, and the drop is an explicit filter.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

CORRUPT_COL = "_corrupt_record"


def read_jsonl(spark: SparkSession, path: str, schema: StructType,
               keep_corrupt: bool = False) -> DataFrame:
    """S1: JSONL scan with the reference's skip-bad-lines semantics
    (PERMISSIVE + _corrupt_record; blank lines are dropped by the
    JSON reader). ``keep_corrupt=True`` keeps bad lines as rows with
    only _corrupt_record set, for quarantine sinks."""
    full = StructType(list(schema.fields))
    if CORRUPT_COL not in full.fieldNames():
        from pyspark.sql.types import StringType, StructField
        full = StructType(list(full.fields)
                          + [StructField(CORRUPT_COL, StringType())])
    df = (spark.read.schema(full)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", CORRUPT_COL)
          .json(path))
    # Spark refuses queries that reference ONLY the corrupt-record
    # column on a raw scan; cache the parsed frame first (documented
    # workaround) so quarantine counts work.
    df = df.cache()
    if keep_corrupt:
        return df
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def normalize_posts(df: DataFrame, posts_col: str = "posts") -> DataFrame:
    """S2/F2 (1-find-gradient.py:42-47): a line may be a flat post or
    a {"posts": [...]} user document — explode the nested form and
    union with the flat rows by name."""
    post_fields = [f.name for f in df.schema[posts_col].dataType.elementType]
    nested = (df.filter(F.col(posts_col).isNotNull())
              .select(F.explode(posts_col).alias("__p"))
              .select(*[F.col(f"__p.{c}").alias(c) for c in post_fields]))
    flat = (df.filter(F.col(posts_col).isNull())
            .select(*[F.col(c) for c in post_fields]))
    return flat.unionByName(nested)


def write_jsonl(df: DataFrame, path: str) -> None:
    """S3: JSONL sink (`json.dumps(post) + "\\n"` per record)."""
    df.write.mode("overwrite").json(path)


def read_csv(spark: SparkSession, path: str,
             schema: StructType | None = None) -> DataFrame:
    """S4: CSV scan with header (csv.DictReader semantics)."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def load_grpo_training_set(spark: SparkSession, csv_fallback: str,
                           run_dir: str | None = None,
                           candidates: tuple[str, ...] = ("24-negatives",
                                                          "23-split"),
                           test_size: float = 0.2, seed: int = 42):
    """S7: the HF-datasets training loader as a Spark source
    (training/grpo/data.py:20-57): manifest-discovered CSV with an
    ordered stage fallback (J6), else ``csv_fallback``; rows without a
    prompt AND chosen are dropped; prompts are chat-templated (P20)
    into (prompt, answer); deterministic train/test split (B7).

    Returns (train_df, test_df). The reference materializes through
    the `datasets` library — here the load stays a distributed scan +
    narrow projection, so the 'training set' is a plan, not a
    driver-side copy."""
    from ..operators.sampling import train_test_split
    from ..plans.manifest import Manifest

    csv_path = csv_fallback
    if run_dir is not None:
        discovered = Manifest(run_dir).discover_input(list(candidates))
        if discovered:
            csv_path = discovered
    df = (spark.read.parquet(csv_path) if _looks_parquet(csv_path)
          else read_csv(spark, csv_path))
    df = df.filter(F.col("prompt").isNotNull()
                   & F.col("chosen").isNotNull())
    # apply_chat_template(..., add_generation_prompt=True) analogue:
    # user turn closed, assistant header open — NO assistant content
    gen_prompt = F.concat(
        F.lit("<|start_header_id|>user<|end_header_id|>\n\n"),
        F.col("prompt"),
        F.lit("<|eot_id|><|start_header_id|>assistant<|end_header_id|>"
              "\n\n"))
    mapped = df.select(gen_prompt.alias("prompt"),
                       F.col("chosen").alias("answer"))
    return train_test_split(mapped, test_frac=test_size, seed=seed)


def _looks_parquet(path: str) -> bool:
    """Manifest stage outputs are parquet directories; ad-hoc inputs
    are CSV — sniff by directory contents."""
    if not os.path.isdir(path):
        return path.endswith(".parquet")
    try:
        return any(f.endswith(".parquet") for f in os.listdir(path))
    except OSError:
        return False


def write_partitioned_parquet(df: DataFrame, path: str,
                              partition_cols: tuple[str, ...]) -> None:
    """Hive-layout partitioned parquet sink — the run/stage artifact
    layout for 100 TB (SURVEY §7.9 partition pruning): a reader that
    filters on any ``partition_cols`` value scans ONLY the matching
    directories (PartitionFilters, asserted in
    tests/test_manifest_io.py), so per-language / per-stage reads
    never touch the rest of the corpus. Low-cardinality keys only —
    one directory per value combination."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def overwrite_partitions(df: DataFrame, path: str,
                         partition_cols: tuple[str, ...]) -> None:
    """Dynamic partition overwrite — the idempotent BACKFILL primitive:
    ``mode("overwrite")`` with ``partitionOverwriteMode=dynamic``
    replaces ONLY the partition directories present in ``df`` and
    leaves every other partition untouched (static mode would truncate
    the whole table first).  Re-running a day's backfill is therefore
    a no-op-or-fix, never a data loss: the unit of atomicity is the
    partition directory, matching how a 100 TB table is actually
    repaired — one day / one language at a time.

    The conf is set per-write and restored: at session scope dynamic
    mode would silently change the semantics of every other overwrite
    in the process (tests/test_manifest_io.py pins both behaviours).
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set(key, before)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (built into Spark, zero extra deps) — the columnar
    alternative where the downstream warehouse is Hive/Trino-first;
    same predicate-pushdown + column-pruning behaviour as parquet."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row",
              root_tag: str = "rows") -> None:
    """XML sink (built into Spark since 4.0 — no spark-xml dependency):
    the interchange format for feed-style exports (sitemaps, RSS-like
    syndication, legacy B2B pipelines).  Row-per-``row_tag`` element;
    nested structs become nested elements."""
    (df.write.mode("overwrite").format("xml")
     .option("rootTag", root_tag).option("rowTag", row_tag).save(path))


def read_xml(spark: SparkSession, path: str, row_tag: str = "row",
             schema=None) -> DataFrame:
    """XML source: one DataFrame row per ``row_tag`` element.  Pass an
    explicit ``schema`` in production — inference reads the data twice
    and, at 100 TB, schema drift should fail loudly at the contract,
    not silently widen a column (same policy as the JSONL reader).
    Attributes surface as ``_attr`` columns, element text of mixed
    nodes as ``_VALUE``."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)
