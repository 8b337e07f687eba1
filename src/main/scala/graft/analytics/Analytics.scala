package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{GraftSession, Tables}

/** Ad-hoc analytics surface (SURVEY.md §3.3): the reference's
  * PostgreSQLDataReader equivalents — arbitrary SQL over the
  * registered tables, catalog listing/description, CSV export. Here
  * Catalyst parses/plans/executes what PostgreSQL did for the
  * reference (postgres_reader.py:147-156). */
object Analytics {

  /** One ISOLATED child SparkSession per (root session, data dir) for
    * the SQL-entry surface: temp views are session-scoped by Spark's
    * design, so two dirs served through ONE session fight over table
    * names exactly as in any shared metastore. `newSession()` is the
    * standard Spark multi-tenant shape — fresh temp-view namespace and
    * SQLConf, shared SparkContext/block manager — and matches the
    * reference's isolation (each postgres_reader.py session is its own
    * Postgres connection). */
  private val sqlSessions =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), SqlSession]()

  /** A child session and the fingerprint of the tables its views were
    * registered from. A view pins its table's file listing, so views
    * are registered again exactly when the tables'
    * `GraftSession.pathFingerprint` changes — the staleness contract
    * CountMemo relies on. Check, registration and store run under the
    * child's lock, and the fingerprint is stored only after the
    * registration finished: a concurrent caller never plans against
    * missing views, and a registration that throws is retried on the
    * next call. */
  private final class SqlSession(val session: SparkSession) {
    private var fingerprint = "" // guarded by this
    def withViews(dir: String): SparkSession = {
      val t = Tables(session, dir)
      val fp = t.names
        .map(n => GraftSession.pathFingerprint(session, s"$dir/$n.parquet")).mkString(",")
      synchronized {
        if (fp != fingerprint) { t.registerViews(); fingerprint = fp }
      }
      session
    }
  }

  /** The child session for (spark, dir), its views current. */
  private def sessionFor(spark: SparkSession, dir: String): SparkSession = {
    // evict children whose root session's context has STOPPED: each
    // child strongly holds a SessionState, so without eviction a
    // long-lived JVM that cycles many root sessions or touches many
    // dirs (test suites, notebook servers) accumulates them forever.
    // O(live entries) scan per call — entries are a handful, and the
    // scan is what keeps the map self-cleaning with no close() hook.
    val it = sqlSessions.keySet.iterator
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    sqlSessions.computeIfAbsent((spark, dir), _ => new SqlSession(spark.newSession()))
      .withViews(dir)
  }

  /** S15: arbitrary SQL entry point over the harness tables. */
  def runSql(spark: SparkSession, dir: String, sql: String): DataFrame =
    sessionFor(spark, dir).sql(sql)

  /** S13: catalog table listing — the harness tables the child
    * session's catalog resolves. `Catalog.tableExists` is metadata
    * only; `Catalog.listTables` collects a SHOW TABLES plan, a Spark
    * job per call. The filter runs on the driver over the name list,
    * so no Dataset lambda captures the session (whose
    * ObservationManager is not serializable). */
  def listTables(spark: SparkSession, dir: String): DataFrame = {
    val ss = sessionFor(spark, dir)
    import ss.implicits._
    Tables(ss, dir).names.filter(ss.catalog.tableExists).sorted.toDF("table_name")
  }

  /** S14: describe-table (name, type, position) from the schema. */
  def describeTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val schema = Tables(spark, dir).table(name).schema
    import spark.implicits._
    schema.fields.zipWithIndex
      .map { case (f, i) => (f.name, f.dataType.simpleString, i + 1) }
      .toSeq.toDF("column_name", "data_type", "ordinal_position")
  }

  /** S12: CSV export + schema-checked re-read (round-trip identity). */
  def csvRoundTrip(spark: SparkSession, dir: String, name: String): DataFrame = {
    val src = Tables(spark, dir).table(name)
    val out = s"${GraftSession.scratchDir(spark, "csv", dir)}/$name"
    src.coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    spark.read.schema(src.schema).option("header", "true").csv(out)
  }

  /** JSON-lines export + schema-checked re-read (source-format
    * coverage beyond CSV/parquet; schema supplied on read — JSON
    * inference would widen ints and is a full extra pass). */
  def jsonRoundTrip(spark: SparkSession, dir: String, name: String): DataFrame = {
    val src = Tables(spark, dir).table(name)
    val out = s"${GraftSession.scratchDir(spark, "json", dir)}/$name"
    src.coalesce(1).write.mode("overwrite").json(out)
    spark.read.schema(src.schema).json(out)
  }

  /** ORC export + re-read (columnar alternative to parquet; schema
    * travels with the files). */
  def orcRoundTrip(spark: SparkSession, dir: String, name: String): DataFrame = {
    val src = Tables(spark, dir).table(name)
    val out = s"${GraftSession.scratchDir(spark, "orc", dir)}/$name"
    src.coalesce(1).write.mode("overwrite").orc(out)
    spark.read.orc(out)
  }
}
