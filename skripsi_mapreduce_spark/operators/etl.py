"""Extract/Transform pipeline (reference ``-a 1``, SURVEY.md §3.1).

JSON-lines reviews -> malformed-line drop -> field-presence filter ->
lowercase/tokenize/stopword/vocabulary filter -> sequential integer ids in
asin order -> (optionally) sink + corpus count N.

Reference behavior being re-expressed:
- O2 malformed filter: lines containing "review/text" dropped
  (MapperExtractTransform.java:66).
- O4 presence predicate: reviewText, reviewerID, asin, reviewerName all
  required (MapperExtractTransform.java:69-72).
- O5-O8 token ops: functions/text.py.
- O10/O11 id assignment: the reference funnels every record through ONE
  reducer which stamps a Hadoop counter in asin order
  (ReducerExtractTransform.java:34-48, the implicit sort of §1.3) — ids
  within an equal asin are shuffle-luck (§8 Q8). The engine defines the
  total order (asin, reviewerID, md5(reviewText)) and assigns ids with a
  RANGE-PARTITIONED two-phase rank so no single task ever sees the whole
  dataset (the single-reducer design is exactly what dies at 100 TB).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import tokenize_col

REVIEW_SCHEMA = T.StructType(
    [
        T.StructField("reviewerID", T.StringType()),
        T.StructField("asin", T.StringType()),
        T.StructField("reviewerName", T.StringType()),
        T.StructField("reviewText", T.StringType()),
        T.StructField("overall", T.DoubleType()),
        T.StructField("unixReviewTime", T.LongType()),
    ]
)


def assign_sequential_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "id",
    num_partitions: int | None = None,
    *,
    with_total: bool = False,
) -> DataFrame:
    """Global 1..N ids in ``order_cols`` order, without a global window.

    A plain ``row_number() OVER (ORDER BY ...)`` collapses to one partition —
    the distributed equivalent of the reference's single reducer
    (ReducerExtractTransform.java:34-48) and just as much of a bottleneck.
    Instead: range-partition on the order key and sort within each
    partition, so a row's local rank is its position in its partition —
    ``monotonically_increasing_id()`` minus the partition's base
    (pid << 33) — then add per-partition offsets (a handful of counts
    collected to the driver). Global rank = offset[pid] + local rank,
    exact regardless of where the sampled range boundaries fall, provided
    the order key is a total order (callers must include a tiebreak
    column). The rows cross ONE exchange: the range partitioning. A
    ``row_number()`` window over the checkpoint would add a second one —
    a checkpoint reports no partitioning, so the window re-hashes every
    row on the partition id.

    The id is an ``int`` while the total fits one (a ``bigint`` past it).
    ``with_total=True`` returns ``(df, n_rows)`` — the total falls out of
    the per-partition counts this operator collects anyway, saving
    callers (e.g. NTILE bucketing) a separate count job.
    """
    if num_partitions is None:
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    ranged = (
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_mono", F.monotonically_increasing_id())
    )
    # pin partitioning and row order for both uses
    ranged = ranged.localCheckpoint(eager=False)
    counts = ranged.groupBy("_pid").count().collect()
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["count"]
    # an empty input has no counts; the one-entry map types the lookup
    offset_map = F.create_map(*[F.lit(x) for kv in (offsets or {0: 0}).items() for x in kv])
    pid = F.col("_pid")
    rank = F.col("_mono") - F.shiftleft(pid.cast("long"), 33) + 1 + offset_map[pid]
    out = ranged.withColumn(id_col, rank.cast("int" if acc < 2**31 else "long")).drop(
        "_pid", "_mono"
    )
    return (out, acc) if with_total else out


def prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive running SUM of ``value_col`` in ``order_cols`` order,
    without a global window: range-partition on the order key,
    window-cumsum within each partition, then add per-partition sum
    offsets (P driver rows, P = partition count). Exact for any total
    order key (callers must include a tiebreak column). At 100 TB this is
    the difference between a scan-speed running total and the
    ``Exchange SinglePartition`` a bare ``SUM() OVER (ORDER BY ...)``
    plans.

    Unlike :func:`assign_sequential_ids`, this keeps its per-partition
    window and so a second exchange (hash on the partition id over the
    checkpoint): a running sum depends on the values of every earlier
    row, which no per-row expression like ``monotonically_increasing_id``
    can supply."""
    if num_partitions is None:
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    ranged = df.repartitionByRange(num_partitions, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    ranged = ranged.localCheckpoint(eager=False)  # pin partitioning for both uses
    sums = ranged.groupBy("_pid").agg(F.sum(value_col).alias("_s")).collect()
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(sums, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["_s"] or 0
    offset_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return ranged.withColumn(
        out_col,
        F.sum(value_col).over(w).cast("long") + offset_map[F.col("_pid")],
    ).drop("_pid")


def extract_transform(
    spark: SparkSession,
    reviews: DataFrame | str,
    stopwords: Iterable[str],
    vocab: Iterable[str],
) -> tuple[DataFrame, int]:
    """Run the full ETL; returns (review_book DataFrame, corpus count N).

    ``reviews`` is either a JSON-lines path or an already-loaded DataFrame.
    Output schema mirrors Avro S1 (JobExtractTransform.java:28-41): id,
    reviewerID, asin, reviewerName, adjectiveWord (token array), reviewText
    — with ``id`` an int assigned in (asin, reviewerID, md5(reviewText))
    order (documented deviation from the reference's shuffle-luck order,
    SURVEY.md §8 Q8).
    """
    if isinstance(reviews, str):
        raw = spark.read.text(reviews)
        # O2: drop legacy-format lines before parsing.
        raw = raw.filter(~F.col("value").contains("review/text"))
        parsed = raw.select(
            F.from_json(F.col("value"), REVIEW_SCHEMA).alias("r")
        ).select("r.*")
    else:
        parsed = reviews
    clean = parsed.na.drop(
        subset=["reviewText", "reviewerID", "asin", "reviewerName"]
    )
    tokened = clean.select(
        "reviewerID",
        "asin",
        "reviewerName",
        "reviewText",
        tokenize_col("reviewText", stopwords=stopwords, vocab=vocab).alias("adjectiveWord"),
    ).withColumn("_tiebreak", F.md5("reviewText"))
    with_ids = assign_sequential_ids(
        tokened, ["asin", "reviewerID", "_tiebreak"], id_col="id"
    ).drop("_tiebreak")
    out = with_ids.select(
        F.col("id").cast("string").alias("id"),
        "reviewerID",
        "asin",
        "reviewerName",
        "adjectiveWord",
        "reviewText",
    )
    # O12: corpus count via observe() metrics riding the materializing
    # action — the Spark-native replacement for the Hadoop counter +
    # WebHDFS side-file publish (CountersEnum.java:3-5, App.java:70-91
    # O14): no extra pass, no side file, metrics surface on the driver.
    from pyspark.sql import Observation

    obs = Observation("extract_transform")
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("adjectiveWord")).alias("n_tokens"),
    )
    # localCheckpoint so the metric-harvesting action materializes the
    # result once and the caller's sink (write_parquet in cli.py) reads
    # the cached rows instead of re-running the rank pipeline.
    out = out.localCheckpoint(eager=True)
    n = obs.get["n_docs"]
    return out, n
