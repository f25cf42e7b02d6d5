"""Sources: parquet star-schema loader + PERMISSIVE JSONL event reader.

Reference parity:
- S1 whole-file JSONL scan with inference (cli.py:276) → schema'd
  ``spark.read.json`` (no inference in prod: fixed RIME_EVENT_SCHEMA).
- S2 streaming scan with malformed-line tolerance
  (analyzer.go:51-87: blank-line skip 64-66, bad-JSON skip 70-74) →
  ``mode=PERMISSIVE`` + ``_corrupt_record`` quarantine column; Spark's
  iterator execution already gives the bounded-memory property the Go
  scanner hand-codes.
- The event_type filter the Go scan pushes down by hand
  (analyzer.go:77-79) is expressed as a plain ``where`` and pushed into
  the parquet scan by Catalyst (PushDownPredicates) — verified in
  plans/inspect.py.

Scale notes (100 TB): the loader takes any directory of parquet; on a
real lake the events table would be written partitioned by
``event_date`` so date predicates prune partitions before any IO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import RIME_EVENT_SCHEMA, STAR_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table; normalizes the events ns-timestamp shim.

    ``events.ts`` is TIMESTAMP(NANOS) in parquet, which Spark's reader
    rejects; with ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as
    a long we convert to microsecond TIMESTAMP_NTZ (matching how the
    DuckDB oracle's CAST(ts AS TIMESTAMP) truncates ns → us).
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every star table as a temp view for the SQL API."""
    for t in STAR_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_rime_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference-format JSONL event log tolerantly (S1/S2/T5).

    Malformed lines land in ``_corrupt_record`` (PERMISSIVE); blank lines
    are dropped by the JSON source itself. Downstream queries filter
    ``_corrupt_record IS NULL`` — same observable semantics as the Go
    scanner's skip-and-warn (analyzer.go:64-74), with the bad rows kept
    queryable for ops instead of lost to a stderr warning.
    """
    return (
        spark.read.schema(RIME_EVENT_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def rime_events_clean(df: DataFrame) -> DataFrame:
    """Valid (non-corrupt) events with a parsed event timestamp.

    Two-part filter matching the Go scanner's whole-line skip
    (analyzer.go:64-74):

    - ``event_type IS NOT NULL`` drops fully-unparseable lines (every
      schema field NULL under PERMISSIVE). The discriminator is NOT
      NULL on every event the producer writes
      (input_habit_logger.lua:126-163).
    - ``_corrupt_record IS NULL`` additionally drops PARTIALLY-parsed
      lines (e.g. a wrong-typed field): PERMISSIVE keeps the fields it
      could read AND fills the corrupt column — but the reference's
      ``json.Unmarshal`` rejects the whole line on any type mismatch,
      so parity requires dropping it here too. Referencing the corrupt
      column alongside real columns keeps the plan clear of the
      corrupt-column-only restriction (see ``ingest_rime_jsonl``).

    NB: on a RAW json scan Spark cannot evaluate filters against
    ``_corrupt_record`` in the same query (the documented corrupt-
    column restriction) — the corrupt filter only takes full effect
    after the bronze hop (or a cache). Pipelines must clean AFTER
    ``ingest_rime_jsonl``, which is the engine's standard path.
    """
    valid = F.col("event_type").isNotNull()
    if "_corrupt_record" in df.columns:
        valid = valid & F.col("_corrupt_record").isNull()
    return df.where(valid).withColumn(
        "ts", F.to_timestamp("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSX")
    )


def ingest_rime_jsonl(spark: SparkSession, path: str, bronze_dir: str) -> DataFrame:
    """Ingest JSONL → bronze parquet, returning the bronze DataFrame.

    The lake-bronze hop every 100 TB pipeline does anyway (columnar,
    splittable, stats for pushdown); it is also how corrupt-record rows
    become freely queryable (the raw-JSON corrupt-only-plan restriction
    above does not apply to the parquet copy).
    """
    read_rime_jsonl(spark, path).write.mode("overwrite").parquet(bronze_dir)
    return spark.read.parquet(bronze_dir)


def ingest_rime_jsonl_observed(
    spark: SparkSession, path: str, bronze_dir: str
):
    """Bronze ingest with data-quality counters attached via
    ``Observation`` — the metrics piggyback on the CALLER's first
    action over the returned DataFrame (no separate counting pass, the
    property that matters when the ingest is 100 TB).

    Returns ``(bronze_df, observation)``; after any action,
    ``observation.get`` yields ``{n_rows, n_corrupt, n_missing_ts}``
    — the operational telemetry the reference loses to stderr warnings
    (analyzer.go:70-74).
    """
    from pyspark.sql import Observation

    obs = Observation("rime_ingest")
    bronze = ingest_rime_jsonl(spark, path, bronze_dir).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
        ).alias("n_corrupt"),
        F.sum(
            F.when(
                F.col("_corrupt_record").isNull()
                & F.col("timestamp").isNull(),
                1,
            ).otherwise(0)
        ).alias("n_missing_ts"),
    )
    return bronze, obs


def fanout(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin repartition a *small* input before compute-heavy
    operators (cross joins, per-row hashing, HOF folds, Pandas UDFs).

    Why: the driver's test parquet is one file with ONE row group, so
    the scan yields a single non-empty split and everything up to the
    first shuffle runs on one core. On a real lake the input arrives in
    thousands of splits and this is a no-op-sized shuffle; locally it
    unlocks full-core parallelism for the expensive stage that follows.
    Only use where downstream cost per row dwarfs one tiny shuffle —
    never on plain scan/filter/agg paths (Catalyst handles those).

    Guarded (r3): when the input already has at least the target
    parallelism — every real lake scan — this is a literal no-op, so
    the helper can never become a corpus-wide shuffle at 100 TB. The
    repartition only fires for under-split inputs (the single-row-group
    test files it exists for).

    Stream-safe (r4, ADVICE r3): a streaming DataFrame has no
    ``df.rdd`` (AnalysisException), but plain ``repartition`` IS
    stream-legal — so streams take the unguarded repartition branch.
    Micro-batches are small by construction, so the guard's only job
    (avoiding a corpus-wide shuffle) doesn't apply there. This lets
    batch helpers that call fanout (e.g. dedup._signatures) be reused
    verbatim on streams instead of maintaining drift-prone copies.
    """
    n = parts or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.isStreaming:
        return df.repartition(n)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
