package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.analytics.Analytics
import graft.core.Tables
import graft.etl.Pipeline

/** Table resolution launches no Spark job: `Tables.read` takes the
  * parquet schema from one footer on the driver (the footer Spark's own
  * inference would pick) instead of an inference job, and the SQL-entry
  * surface registers a child session's views only when the tables'
  * fingerprint changes. Pins the schemas equal to Spark's inference, the
  * zero-job resolution, and that a rewritten table is seen. */
class TableReadSpec extends SparkSpec {
  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
  private lazy val names = Tables(spark, "").names

  /** Stage names of the jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobs.add(s.stageInfos.map(_.name).mkString(", "))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(1500) // listener-bus delivery latency only
      jobs.toArray.toSeq.map(_.toString)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def tempDir(prefix: String): JPath = Files.createTempDirectory(prefix)
  private def deleteQuietly(p: JPath): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  test("footer schema equals Spark's inferred schema for every source table") {
    for (d <- dirs; n <- names) {
      val path = s"$d/$n.parquet"
      assert(Tables.read(spark, path).schema == spark.read.parquet(path).schema, path)
      if (n != "events") // events.ts is normalized on top of the read
        assert(Tables(spark, d).table(n).schema == spark.read.parquet(path).schema, path)
    }
    assert(Tables(spark, dirs.head).eventsRaw.schema ==
      spark.read.parquet(s"${dirs.head}/events.parquet").schema)
  }

  test("footer schema equals Spark's inferred schema for every warehouse table, " +
      "partitioned fact_orders included") {
    val wh = tempDir("graft_tableread_wh")
    try {
      val res = Pipeline.run(spark, dirs.head, wh.toString)
      assert(res.forall(_.ok), res)
      for (r <- res) {
        val path = s"$wh/${r.name}"
        assert(Tables.read(spark, path).schema == spark.read.parquet(path).schema, path)
      }
      assert(Tables.read(spark, s"$wh/fact_orders").schema.fieldNames.last == "order_year")
    } finally deleteQuietly(wh)
  }

  test("a path Spark must resolve itself raises Spark's own error") {
    val empty = tempDir("graft_tableread_empty")
    try {
      for (p <- Seq(s"$empty/missing.parquet", empty.toString)) {
        val ours = intercept[org.apache.spark.sql.AnalysisException](Tables.read(spark, p))
        val theirs = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(p))
        assert(ours.getMessage == theirs.getMessage, p)
      }
    } finally deleteQuietly(empty)
  }

  test("table resolution, view registration and SQL-entry construction run zero jobs") {
    val d = dirs.head
    val wh = tempDir("graft_tableread_jobs")
    try {
      assert(Pipeline.run(spark, d, wh.toString).forall(_.ok))
      // a fresh root session: its child sessions register from scratch
      val root = spark.newSession()
      val jobs = jobsDuring {
        Tables(spark, d).registerViews()
        Pipeline.registerWarehouse(spark, wh.toString)
        Analytics.describeTable(spark, d, "orders")
        Analytics.runSql(root, d,
          "SELECT n_name, COUNT(*) AS c FROM customer JOIN nation " +
            "ON c_nationkey = n_nationkey GROUP BY n_name")
        Analytics.listTables(root, d)
      }
      assert(jobs.isEmpty, s"expected zero jobs resolving tables, saw $jobs")
      // control: the listener does see Spark's own schema-inference job
      assert(jobsDuring(spark.read.parquet(s"$d/orders.parquet")).nonEmpty)
    } finally deleteQuietly(wh)
  }

  test("runSql sees a rewritten table; unchanged tables keep their views") {
    val src = dirs.head
    val d = tempDir("graft_tableread_stale")
    try {
      names.foreach(n => Files.copy(JPath.of(s"$src/$n.parquet"), d.resolve(s"$n.parquet")))
      def run() = Analytics.runSql(spark, d.toString, "SELECT COUNT(*) FROM supplier")
      // the registered view object, read right after the call
      def view(df: org.apache.spark.sql.DataFrame) =
        df.sparkSession.sessionState.catalog.getRawTempView("supplier").get
      val first = run()
      val firstView = view(first)
      val all = first.collect().head.getLong(0)
      assert(view(run()) eq firstView, "unchanged tables were registered again")

      val subset = d.resolve("supplier_subset")
      val kept = spark.read.parquet(s"$src/supplier.parquet").where("s_suppkey <= 3")
      kept.write.parquet(subset.toString)
      val keptRows = kept.count()
      Files.delete(d.resolve("supplier.parquet"))
      Files.move(subset, d.resolve("supplier.parquet"))
      val after = run()
      assert(!(view(after) eq firstView), "a rewritten table kept its old view")
      assert(keptRows > 0 && keptRows < all)
      assert(after.collect().head.getLong(0) == keptRows)
    } finally deleteQuietly(d)
  }

  test("round-trip exports of one table from two data dirs keep their own rows") {
    // both frames are built (their exports written) before either is
    // read back: a shared export path would let the second export
    // overwrite the first's files before its lazy re-read
    val frames = dirs.map(d => d -> Analytics.csvRoundTrip(spark, d, "supplier"))
    for ((d, df) <- frames) {
      val expected = Tables(spark, d).supplier.collect().map(_.toString).sorted.toSeq
      assert(df.collect().map(_.toString).sorted.toSeq == expected, d)
    }
  }
}
