package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Readers for the harness-provided parquet tables plus the canonical
  * events→transactions derivation (see FIXTURES.md §5).
  *
  * All timestamps in this engine are `TIMESTAMP_NTZ` (wall-clock, no zone):
  * the reference pipeline operates on naive pandas datetimes
  * (reference: src/fifo_matching.py:75, test/test_fifo_matching.py:39), and
  * NTZ parquet round-trips bit-for-bit through both Spark and DuckDB.
  */
object Tables {

  /** Runtime-settable configs every reader depends on, applied defensively so
    * the engine behaves identically no matter who built the SparkSession.
    *
    *  - `nanosAsLong`: the synthetic `events.parquet` stores
    *    `TIMESTAMP(NANOS)`, which Spark's parquet reader rejects outright
    *    (PARQUET_TYPE_ILLEGAL); with the legacy flag the column arrives as a
    *    nanosecond LongType which [[events]] converts (truncating, exactly
    *    like DuckDB's TIMESTAMP_NS→TIMESTAMP cast) to µs TIMESTAMP_NTZ.
    *  - session timezone UTC: makes the LTZ→NTZ hop in [[toNtzMicros]] a
    *    wall-clock no-op.
    *  - `canChangeCachedPlanOutputPartitioning`: Spark plans every
    *    `persist()`ed frame with this off by default, which switches AQE's
    *    partition coalescing off inside the cached plan — a cached window or
    *    sort then keeps all `spark.sql.shuffle.partitions` (200 by default)
    *    partitions, and every later job scans, and every write of it emits,
    *    that many. On, AQE sizes cached plans by the bytes seen at run time
    *    (a 100k-row daily pipeline run: 2,843 tasks → 81). Set here so
    *    the engine sizes its own caches under any caller's session.
    */
  def ensureConf(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(CachedPlanCoalescing, "true")
    spark
  }

  /** The SQL conf key behind the third [[ensureConf]] bullet. */
  val CachedPlanCoalescing = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureConf(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** `dir`'s table `name` as a [[graft.Shared]] key input: a binaryFile
    * read lists its files without a parquet read's schema-inference job
    * (10 ms, not 120 ms at sf0.01, paid on every shared-frame hit). */
  def files(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.format("binaryFile").load(s"$dir/$name.parquet")

  /** ns-epoch long → µs TIMESTAMP_NTZ. `div 1000` floors (inputs are
    * post-1970 so toward-zero == floor), matching DuckDB cast truncation. */
  private def toNtzMicros(nsCol: String): org.apache.spark.sql.Column =
    timestamp_micros(expr(s"$nsCol div 1000")).cast(TimestampNTZType)

  /** `events` with `ts` normalized to µs TIMESTAMP_NTZ regardless of the
    * physical parquet type. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", toNtzMicros("ts"))
      case _        => raw.withColumn("ts", col("ts").cast(TimestampNTZType))
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Canonical transaction table derived deterministically from `events`
    * (FIXTURES.md §5). Schema = the reference's enforced input contract
    * (reference: src/thrive_cash_processing_dag.py:642,
    * test/test_fifo_matching.py:35-49):
    *
    *   transaction_id: string, customer_id: string, amount: double,
    *   timestamp: timestamp_ntz, transaction_type: earned|spent|expired
    *
    * Mapping: purchase→spent, error→expired, {click,view,signup}→earned;
    * amount keeps the sign convention earned>0, spent/expired<0
    * (reference: README.md:439-443).
    */
  /** The enforced transaction input contract (reference validates this
    * post-hoc at src/thrive_cash_processing_dag.py:642; here it is
    * schema-on-read). */
  val transactionSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("transaction_id", StringType, nullable = false),
      StructField("customer_id", StringType, nullable = false),
      StructField("amount", DoubleType, nullable = false),
      StructField("timestamp", TimestampNTZType, nullable = false),
      StructField("transaction_type", StringType, nullable = false)))
  }

  /** CSV ingestion with the enforced schema (the reference's raw feed is
    * tabular-with-header; schema-on-read replaces its infer-then-validate).
    * Malformed rows surface as nulls for the validation layer (PERMISSIVE),
    * never as silent type drift. */
  def readTransactionsCsv(spark: SparkSession, path: String): DataFrame = {
    ensureConf(spark)
    spark.read
      .schema(transactionSchema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)
  }

  def transactions(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id").cast("string").as("transaction_id"),
      col("user_id").cast("string").as("customer_id"),
      when(col("event_type").isin("purchase", "error"), -col("value"))
        .otherwise(col("value")).as("amount"),
      col("ts").as("timestamp"),
      when(col("event_type") === "purchase", "spent")
        .when(col("event_type") === "error", "expired")
        .otherwise("earned").as("transaction_type"))
}
