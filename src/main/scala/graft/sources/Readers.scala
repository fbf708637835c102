package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** Source-side ingest tooling: schema-enforced reads that quarantine
  * malformed records instead of dropping them silently or failing the job.
  *
  * At 100 TB some fraction of any feed is malformed; FAILFAST kills a
  * day-long job on row one, DROPMALFORMED silently loses data, so the
  * engine's posture is PERMISSIVE with an explicit corrupt-record column:
  * bad rows survive the scan as raw text, [[splitCorrupt]] routes them to a
  * quarantine frame, and both sides stay fully distributed (the split is a
  * pair of codegen'd null-filters over one cached-by-scan source). An
  * explicit schema is REQUIRED: schema inference reads the data twice and
  * races against feed drift — at scale the schema is a contract, not a
  * discovery. */
object Readers {

  val corruptCol = "_corrupt_record"

  private def withCorrupt(schema: StructType): StructType =
    if (schema.fieldNames.contains(corruptCol)) schema
    else schema.add(StructField(corruptCol, StringType, nullable = true))

  /** CSV read (with header) with the quarantine column appended. NOTE the
    * pruning caveat on [[splitCorrupt]]: classification is only row-stable
    * through the split, which materializes the full parse. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(withCorrupt(schema))
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .csv(path)

  /** ORC read with enforced schema — the second columnar format next to
    * parquet: same pushdown/pruning behavior (predicates reach the ORC
    * reader's search argument, unreferenced columns never deserialize),
    * verified by the plan assertion in SinksSpec. ORC is binary +
    * self-describing, so there is no corrupt-record quarantine tier — a
    * torn file fails the read instead of yielding rows. */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Events ingest with timestamp physical-type normalization: the `ts`
    * column has shipped as parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects unless read as a raw LONG via the legacy conf — and as
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark TIMESTAMP_NTZ). A feed's
    * physical timestamp encoding is producer-controlled and WILL drift over a
    * pipeline's lifetime; hard-coding one flavor turns an upstream library
    * bump into a full outage of every downstream query (this engine lost 28
    * queries to exactly that). Normalizing at the ingest boundary means every
    * consumer sees one logical type: TimestampType at microsecond precision
    * (sessions run UTC, so the NTZ→instant cast is the identity and sub-µs
    * truncation of the nanos flavor is deterministic). The branch inspects
    * the LOADED schema, not a config — the data says what it is. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // must be set before the footer is parsed: a NANOS column fails the read
    // outright otherwise; for MICROS/NTZ files the conf is a no-op
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) surfaced as raw nanos-since-epoch
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType | TimestampType => // micros flavors, either TZ form
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.parquet ts column has unsupported type $other " +
            "(expected LONG nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  /** embeddings.parquet front door: normalize the `embedding` column to
    * `array<float>` regardless of the fixture's physical element type.
    * Today's fixtures store float32, but a regenerated fixture surfacing
    * float64 would break every similarity query at analysis time (the
    * codegen `FloatDot` tier requires FloatType elements) — the same class
    * of silent drift [[readEvents]] absorbs for `events.ts`, so the same
    * normalize-at-the-ingest-boundary treatment. */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => raw
      case ArrayType(DoubleType, _) =>
        raw.withColumn("embedding", col("embedding").cast("array<float>"))
      case other =>
        throw new IllegalStateException(
          s"embeddings.parquet embedding column has unsupported type $other " +
            "(expected array<float> or array<double>)")
    }
  }

  /** Split an ingest frame into (clean rows without the quarantine column,
    * quarantined rows). The quarantine side keeps the FULL row — Spark
    * refuses a query over a raw JSON/CSV scan whose only referenced column
    * is the corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and
    * partially-parsed fields are useful triage context anyway. Callers
    * persist the quarantine side next to the clean table so reprocessing is
    * possible once the producer is fixed.
    *
    * The split MATERIALIZES the parse (localCheckpoint): Spark's CSV/JSON
    * readers only detect a malformed field in columns a query actually
    * references, so under column pruning the same physical row would
    * classify clean for a `groupBy(source)` and quarantined for a full
    * select — quarantine membership must be a property of the ROW, not of
    * the consumer's projection (verified by the pruning-proof test in
    * SinksSpec; the `csv.parser.columnPruning` conf no longer guards the
    * scan path in Spark 4). Materializing the batch once IS the ingest
    * boundary's job — the clean side is about to be persisted anyway, and
    * the materialization parses every schema column exactly once.
    *
    * Materialization is `persist(DISK_ONLY)` + count, NOT localCheckpoint:
    * localCheckpoint TRUNCATES lineage to non-replicated block-manager
    * blocks, so one lost executor after the split would fail every
    * downstream read permanently (no recompute path) — unacceptable at the
    * ingest boundary. With persist the lineage stays intact: a lost block
    * recomputes from the source scan, and because the CACHED plan is the
    * full-schema parse, the recompute re-parses every column, keeping
    * quarantine classification row-stable even across recomputes.
    * DISK_ONLY keeps the (batch-sized) copy out of executor memory; the
    * returned handle OWNS the shared cache — call [[QuarantineSplit.done]]
    * once both sides are written, or the cache stays pinned for the
    * session (and accumulates across repeated ingest batches). */
  def splitCorrupt(df: DataFrame): QuarantineSplit = {
    val full = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    full.count() // force the one full-schema parse now
    val clean = full.where(col(corruptCol).isNull).drop(corruptCol)
    val bad = full.where(col(corruptCol).isNotNull)
    QuarantineSplit(clean, bad, full)
  }
}

/** The two sides of a quarantine split plus the persisted full-parse frame
  * they share. Destructures like the old pair (`val QuarantineSplit(clean,
  * bad, _) = ...`); call [[done]] after BOTH sides are materialized. */
case class QuarantineSplit(clean: DataFrame, bad: DataFrame,
                           private val shared: DataFrame) {
  /** Release the shared DISK_ONLY parse cache (blocking=false: lazily). */
  def done(): Unit = shared.unpersist(false)
}
