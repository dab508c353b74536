package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Table registry for the driver test data (TESTDATA.md / FIXTURES.md §1).
  *
  * One parquet file per table under `$sfDir/`. Schemas are read from the
  * parquet footers — the engine is schema-first (SURVEY §1.2) but the
  * footers are authoritative, so no redundant StructType declarations
  * that could drift from the data.
  *
  * Scale posture: at 100 TB each of these would be a partitioned parquet
  * dataset (directory), not a single file; `spark.read.parquet(dir)` is
  * already the right call for both. Filters/projections compose onto the
  * scan (predicate pushdown + column pruning are Catalyst's job).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` normalization — the driver's generator has shipped the
    * column two ways across rounds, and both must land on TimestampType
    * (µs, UTC session zone) because that is what event-time watermarks
    * require and what the DuckDB oracle reads:
    *
    *  - physically TIMESTAMP(NANOS): Spark 4 rejects it outright
    *    (PARQUET_TYPE_ILLEGAL) unless the legacy nanosAsLong conf is on;
    *    with it on the column surfaces as LongType nanos, truncated here
    *    to µs with integer `div` (long→double division would lose
    *    precision above 2^53 ns) — the same truncation DuckDB applies;
    *  - physically TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4
    *    infers TIMESTAMP_NTZ (inferTimestampNTZ defaults on), which
    *    `withWatermark` REFUSES (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    *    Cast to TimestampType — value-preserving under the UTC session
    *    zone every graft session pins, and identical to DuckDB's naive
    *    read of the same file.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) => df.withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
      case _ => df
    }
  }

  /** Spread `df` to the session's parallelism when it has fewer
    * partitions: compute-dense per-row kernels (shingling, minhash,
    * codec work, pair scans) otherwise run on ONE task over the
    * single-split local test files. At real scale the scan already has
    * more splits than cores and this is a no-op; the shuffle it adds
    * locally moves the raw rows once — trivial next to the kernel work
    * it parallelizes. The ONE shared definition of the heuristic —
    * tune it here, not at call sites. */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** [[load]] + [[spread]]. */
  def loadSpread(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spread(spark, load(spark, sfDir, name))

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
