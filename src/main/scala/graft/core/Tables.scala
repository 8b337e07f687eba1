package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ParquetBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Accessors for the harness tables (TPC-H-ish star schema + events /
  * documents / embeddings), one parquet file per table under `dir`.
  *
  * Reads go through `Tables.read`: the parquet schema is read from one
  * footer on the driver (ParquetBridge — the footer Spark's own
  * inference would pick) and passed to `spark.read.schema(..).parquet`,
  * so resolving a table launches no Spark job; partition columns are
  * still inferred by the file index, and Catalyst keeps full
  * pushdown/pruning freedom. Nothing is cached here, not even the
  * schema (a rewritten table is read as it is now); callers decide
  * what to persist. Accessors are `lazy val`s so repeated references
  * within one query share attribute IDs (required for expressing join
  * conditions as `t.orders("o_orderkey") === t.lineitem("l_orderkey")`).
  *
  * `events.ts` normalization: the generator has written the column as
  * parquet TIMESTAMP(NANOS) in some rounds (which Spark's reader
  * rejects; with `spark.sql.legacy.parquet.nanosAsLong=true`, set by
  * GraftSession, it arrives as Long nanoseconds, and since the data is
  * microsecond-granular we convert exactly via integer division — no
  * double round-trip, ns epoch ≈ 1.7e18 exceeds the 53-bit double
  * mantissa) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) in others
  * (which Spark 4 infers as TIMESTAMP_NTZ — rejected by `unix_micros`
  * and by streaming event-time watermarks). Both are normalized to the
  * session-zone instant type TIMESTAMP; the session zone is pinned to
  * UTC by GraftSession, so the NTZ cast is wall-clock-identity.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = {
    val df = Tables.read(spark, s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast(TimestampType))
    else df
  }

  lazy val region: DataFrame     = table("region")
  lazy val nation: DataFrame     = table("nation")
  lazy val customer: DataFrame   = table("customer")
  lazy val supplier: DataFrame   = table("supplier")
  lazy val part: DataFrame       = table("part")
  lazy val orders: DataFrame     = table("orders")
  lazy val lineitem: DataFrame   = table("lineitem")
  lazy val events: DataFrame     = table("events")
  /** Events with the ts column still in its on-disk representation
    * (Long nanoseconds when written as TIMESTAMP(NANOS)). Time
    * predicates belong HERE, converted to the raw unit — a filter on
    * the converted column sits above `timestamp_micros(...)` and can
    * never reach the parquet scan. */
  lazy val eventsRaw: DataFrame  = Tables.read(spark, s"$dir/events.parquet")
  lazy val documents: DataFrame  = table("documents")
  lazy val embeddings: DataFrame = table("embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view so `spark.sql` works against
    * the same names the DuckDB oracle uses (S15 ad-hoc SQL surface). */
  def registerViews(): Unit = names.foreach { n =>
    table(n).createOrReplaceTempView(n)
  }
}

object Tables {
  /** `spark.read.parquet(path)` with the schema read on the driver
    * (ParquetBridge.footerSchema) instead of by an inference job. A
    * path Spark must resolve itself (no data file, schema merging on)
    * is read plainly, so its errors are Spark's own. */
  def read(spark: SparkSession, path: String): DataFrame =
    ParquetBridge.footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None    => spark.read.parquet(path)
    }
}
