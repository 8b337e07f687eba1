package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.analytics.Analytics
import graft.etl.Pipeline
import Harness.{cells, digest}

/** Analysts on the warehouse the nightly ETL builds: one closed-loop
  * client over seeded rounds of star-schema SQL on the warehouse views,
  * `Analytics.runSql` on the source tables and catalog calls. */
object AdhocStar extends Workload {
  val SourceTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  /** The years the generated orders fall in. */
  private val Years = 1997 +: (2016 to 2021)
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** One request: its template and, for SQL, its text. A customer
    * history draws its customer as a raw number, reduced modulo the
    * customer count at run time. */
  final case class Req(template: String, text: String)

  /** Star-schema SQL over the warehouse views, `Analytics.runSql` over
    * the source tables, and catalog calls. */
  val StarTemplates = Seq("rollup", "segment_region", "top_brands", "payment_quarter",
    "customer_history")
  val RunSqlTemplates = Seq("sql_orders_year", "sql_nation_segment", "sql_events")
  val CatalogTemplates = Seq("list_tables", "describe")
  /** One round: every template once (50% star SQL, 30% runSql, 20%
    * catalog). Each template's median latency weighs the same in the
    * end-to-end metric, so equal counts give every median the most
    * samples a short run allows; the seed orders each round and draws
    * the parameters. */
  private val Round = StarTemplates ++ RunSqlTemplates ++ CatalogTemplates

  def requests(seed: Long, rounds: Int): IndexedSeq[Req] = {
    val r = new scala.util.Random(seed * 1000003L + 11)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.length))
    def make(t: String): Req = Req(t, t match {
      case "rollup" =>
        val y = 2016 + r.nextInt(3)
        "SELECT d.year, d.quarter, COUNT(*) AS n, SUM(f.net_amount) AS net " +
          "FROM fact_orders f JOIN dim_dates d ON f.order_date_key = d.date_key " +
          s"WHERE d.year BETWEEN $y AND ${y + 2} GROUP BY d.year, d.quarter"
      case "segment_region" =>
        "SELECT f.c_mktsegment, c.region_name, " +
          "COUNT(DISTINCT f.customer_key) AS customers FROM fact_orders f " +
          "JOIN dim_customer c ON f.customer_key = c.c_custkey " +
          s"WHERE f.order_status = '${pick(Seq("f", "o", "p"))}' " +
          "GROUP BY f.c_mktsegment, c.region_name"
      case "top_brands" =>
        "SELECT p.brand_label, SUM(f.gross_amount) AS revenue " +
          "FROM fact_orders f JOIN dim_part p ON f.part_key = p.p_partkey " +
          s"WHERE f.order_year = ${pick(Years)} GROUP BY p.brand_label " +
          s"ORDER BY revenue DESC, p.brand_label LIMIT ${pick(Seq(5, 10))}"
      case "payment_quarter" =>
        "SELECT pay.payment_type, d.quarter, COUNT(*) AS n, " +
          "SUM(f.net_amount) AS net FROM fact_orders f " +
          "JOIN dim_payments pay ON f.payment_key = pay.payment_key " +
          "JOIN dim_dates d ON f.order_date_key = d.date_key " +
          s"WHERE d.year = ${2016 + r.nextInt(6)} GROUP BY pay.payment_type, d.quarter"
      case "customer_history" =>
        // half the lookups hit a hot head of customers
        (if (r.nextBoolean()) r.nextInt(50) else r.nextInt(Int.MaxValue)).toString
      case "sql_orders_year" =>
        val y = pick(Years)
        "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total " +
          s"FROM orders WHERE o_orderdate >= TIMESTAMP '$y-01-01 00:00:00' " +
          s"AND o_orderdate < TIMESTAMP '${y + 1}-01-01 00:00:00' GROUP BY o_orderpriority"
      case "sql_nation_segment" =>
        "SELECT n.n_name, COUNT(*) AS n, SUM(c.c_acctbal) AS balance " +
          "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey " +
          s"WHERE c.c_mktsegment = '${pick(Segments)}' GROUP BY n.n_name"
      case "sql_events" =>
        "SELECT event_type, COUNT(*) AS n, SUM(value) AS total FROM events " +
          s"WHERE user_id % 10 = ${r.nextInt(10)} GROUP BY event_type"
      case "list_tables" => ""
      case "describe" => pick(SourceTables)
    })
    (0 until rounds).flatMap(_ => r.shuffle(Round).map(make))
  }

  def requestTrace(seed: Long): Seq[String] =
    requests(seed, 100).map(q => s"${q.template} ${q.text}")

  private def pointSql(c: Long): String =
    "SELECT f.o_orderkey, f.l_linenumber, f.order_date_key, f.net_amount, f.payment_key " +
      s"FROM fact_orders f WHERE f.customer_key = $c"

  /** The nightly job the analysts query after: a full `Pipeline.run`
    * rebuild into a fresh warehouse, the incremental `etl_backfill`, and
    * the warehouse views registered. Both ETL steps are timed and their
    * outputs checked. */
  override def fixture(ctx: Ctx): Unit = {
    import ctx._
    val wh = s"$work/warehouse_${new java.io.File(data).getName}"
    rec.time("rebuild", "Pipeline.run") {
      val res = tracer.span("etl.rebuild", window = true)(Pipeline.run(spark, data, wh))
      (res.forall(_.ok), res.filterNot(_.ok).map(r => s"${r.name}: ${r.error}").mkString("; "),
        Map("stages" -> res.map(r => Map("stage" -> r.name, "rows" -> r.rows))))
    }
    rec.time("backfill", "etl_backfill") {
      val rows = tracer.span("etl.backfill", window = true)(
        SparkEntry.queries("etl_backfill")(spark, data).collect())
      (true, "", Map("rows" -> rows.map(cells)))
    }
    val t0 = System.nanoTime()
    Pipeline.registerWarehouse(spark, wh)
    extra.getOrElseUpdate("register_ms", mutable.Buffer[Double]())
      .asInstanceOf[mutable.Buffer[Double]] += (System.nanoTime() - t0) / 1e6
    extra("warehouse") = wh
    extra("oracle_etl_pipeline") = SparkEntry.oracleSql("etl_pipeline")
    extra("oracle_etl_backfill") = SparkEntry.oracleSql("etl_backfill")
    extra("n_customers") = spark.read.parquet(s"$data/customer.parquet").count()
  }

  def warm(ctx: Ctx): Unit = {
    val nCust = ctx.extra("n_customers").asInstanceOf[Long]
    // one request of each template, on the warehouse just built
    requests(0, 1).distinctBy(_.template)
      .foreach(q => serve(ctx.spark, ctx.data, q, nCust, -1, None, None))
  }

  /** Serve one request, timed and checked when `rec` is given. */
  private def serve(spark: SparkSession, data: String, q: Req, nCustomers: Long, idx: Long,
                    tracer: Option[Tracer], rec: Option[Recorder]): Unit = {
    val t = tracer.getOrElse(new Tracer(false))
    def sqlOp(sql: String, ordered: Boolean): (Boolean, String, Map[String, Any]) =
      t.span("adhoc.query", idx) {
        val df = spark.sql(sql)
        t.span("adhoc.plan")(df.queryExecution.executedPlan)
        val rows = t.span("adhoc.exec")(df.collect())
        (true, "", Map("engine" -> "warehouse", "sql" -> sql, "ordered" -> ordered,
          "rows" -> rows.map(cells)))
      }
    def body: (Boolean, String, Map[String, Any]) = q.template match {
      case "customer_history" => sqlOp(pointSql(q.text.toLong % nCustomers), ordered = false)
      case "top_brands" => sqlOp(q.text, ordered = true)
      case name if StarTemplates.contains(name) => sqlOp(q.text, ordered = false)
      case name if RunSqlTemplates.contains(name) => t.span("analytics.run_sql", idx) {
        val df = t.span("analytics.run_sql_call")(Analytics.runSql(spark, data, q.text))
        val rows = t.span("adhoc.exec")(df.collect())
        (true, "", Map("engine" -> "source", "sql" -> q.text, "ordered" -> false,
          "rows" -> rows.map(cells)))
      }
      case "list_tables" => t.span("analytics.catalog", idx) {
        val rows = Analytics.listTables(spark, data).collect().map(_.getString(0)).toSeq
        (rows == SourceTables.sorted, s"listed ${rows.mkString(",")}", Map.empty[String, Any])
      }
      case "describe" => t.span("analytics.catalog", idx) {
        val rows = Analytics.describeTable(spark, data, q.text).collect()
        (true, "", Map("engine" -> "describe", "table" -> q.text, "rows" -> rows.map(cells)))
      }
    }
    rec match {
      case Some(r) =>
        val key = if (q.template == "customer_history") pointSql(q.text.toLong % nCustomers) else q.text
        r.time(q.template, key)(body)
      case None => body
    }
  }

  def run(ctx: Ctx, deadlineMs: Long): Unit = {
    import ctx._
    val reqs = requests(seed, 1000)
    val nCust = extra("n_customers").asInstanceOf[Long]
    var i = 0
    while (System.currentTimeMillis() < deadlineMs && i < reqs.length) {
      serve(spark, data, reqs(i), nCust, i, Some(tracer), Some(rec))
      i += 1
    }
  }
}

/** The persist- and gate-heavy corpus operators in one long-lived
  * session: an untimed pass, then timed passes, each over a seeded order
  * of the entries, with no cache scrub between them. Every result's
  * digest must match across passes. */
object CorpusBatch extends Workload {
  val Entries = Seq("llm_corpus_build", "dd_minhash_pairs", "ss_knn_graph",
    "g_label_propagation", "reco_item_item", "tx_lm_score")

  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(Entries)

  def requestTrace(seed: Long): Seq[String] = (0 until 20).map(p => order(seed, p).mkString(" "))

  private def pass(ctx: Ctx, n: Int, timed: Boolean): Unit = {
    import ctx._
    val sc = spark.sparkContext
    order(seed, n).foreach { e =>
      rec.time("entry", e) {
        def call = SparkEntry.queries(e)(spark, data).collect()
        val rows = if (timed) tracer.span(s"batch.$e", n)(call) else call
        val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        (true, "", Map("digest" -> digest(rows), "pass" -> n, "timed" -> timed,
          "persisted_rdds" -> sc.getPersistentRDDs.size, "storage_bytes" -> storage))
      }
    }
  }

  /** The first pass, on the inputs the timed passes read. */
  def warm(ctx: Ctx): Unit = pass(ctx, 0, timed = false)

  /** Timed passes per run, at least: each entry's median then rests on
    * two calls, not one (a single pass spread 0.07–0.24 over ten runs). */
  val MinPasses = 2

  def run(ctx: Ctx, deadlineMs: Long): Unit = {
    var n = 1
    do {
      val t0 = System.nanoTime()
      pass(ctx, n, timed = true)
      ctx.rec.add(Op("pass", s"$n", System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e6, ok = true, ""))
      n += 1
    } while (n <= MinPasses || System.currentTimeMillis() < deadlineMs)
  }
}
