package graft

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Multi-tenant concurrency: one SparkSession serving many queries at
  * once is the normal deployment shape (a shared cluster endpoint, a
  * notebook server, Verify's own future-based stages) — Spark's
  * scheduler is built for concurrent job submission, so the only thing
  * that can break is OUR shared state. This spec pins the contract:
  *
  *  - cross-query concurrency on one data dir is safe and
  *    deterministic: every query returns exactly its sequential result
  *    while others are in flight. The shared surfaces this exercises:
  *    the Recommender model/non-empty caches (TrieMap), the BPE
  *    broadcast memo (ConcurrentHashMap, functions/Bpe.scala), the
  *    child session's temp-view registration an_adhoc_sql checks per
  *    call against the tables' fingerprint (registered under the
  *    child's lock, the fingerprint stored after), and the Multimodal
  *    codec seam.
  *  - same-query concurrency is additionally safe for PURE queries
  *    (no scratch side effects). Side-effecting ops (etl_backfill,
  *    s17_time_travel, …) write an app+op+dir-scoped scratch root
  *    (GraftSession.scratchDir) — they are safe against EVERY OTHER
  *    query and against other processes, but two interleaved runs of
  *    the SAME op on the SAME dir in one app race on that root by
  *    design, exactly like two jobs writing one warehouse table; the
  *    serializable-per-(op,dir) convention is the warehouse norm and
  *    the CAS-committed ledger ops (etl_wap, s22 — WapConcurrencySpec)
  *    are the provided primitive when true concurrent publication is
  *    needed. Those run here once, concurrently with everything else.
  *
  * Cross-DIR concurrency is IN contract for the whole surface:
  * DataFrame-API queries take the dir as an argument and never shared
  * names; the SQL-entry queries (temp views are session-scoped by
  * Spark's design) run each dir in its own child session
  * (Analytics.sessionFor — spark.newSession per (root, dir): fresh
  * view namespace, shared SparkContext/block manager), so two dirs no
  * longer fight over table names. Pinned by the two-dir test below.
  */
class ConcurrencySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  // pure queries: no scratch writes — safe to run N copies at once.
  // Chosen to cover every shared-state surface, not for breadth.
  private val pure = Seq(
    "q1_agg",              // plain agg (control)
    "j3_inner_join_agg",   // broadcast join path
    "t4_topk_per_group",   // custom TopKAggregate expression
    "a6_distinct_count",
    "dd_exact",
    "an_adhoc_sql",        // temp-view registration + spark.sql
    "tx_bpe_encode",       // memoized broadcast cache (Bpe.bcCache)
    "sel_dsir",            // compiled selection model (bounded collect)
    "mm_features",         // Multimodal codec seam
    "reco_topk_cosine",    // ALS model cache + nonEmptyCache (TrieMap)
    "reco_eval",           // shares the cached model with the above
    "g_pagerank")          // iterative loop w/ per-round broadcasts

  // side-effecting queries: app+op+dir-scoped scratch root; one copy
  // each, racing against all the pure traffic above.
  private val sideEffecting = Seq("etl_backfill", "s17_time_travel",
    "s8_upsert", "an_badrecords")

  /** Order-independent snapshot of a query's full result. */
  private def snap(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir).collect()
      .map(_.toString).sorted.toSeq

  test("concurrent execution returns sequential results exactly") {
    val names = pure ++ sideEffecting
    val sequential = names.map(n => n -> snap(n)).toMap

    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // two copies of every pure query + one of each side-effecting
      // one, submission order interleaved so unlike queries overlap
      val submissions = (pure ++ sideEffecting ++ pure.reverse)
      val futs = submissions.map(n => Future(n -> snap(n)))
      val results = Await.result(Future.sequence(futs), 15.minutes)
      results.foreach { case (n, got) =>
        assert(got == sequential(n),
          s"$n diverged under concurrent execution")
      }
    } finally pool.shutdown()
  }

  test("gate decisions land only in their own query's capture") {
    // the decision scope is per thread: two entries constructed at the
    // same time, each inside its own Gate.capture, must each log only
    // their own gates (the process-global hook vars the log replaced
    // were overwritten by whichever query finished last)
    val start = new java.util.concurrent.CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = Seq("reco_item_item", "g_label_propagation").map { n =>
        Future {
          start.await()
          n -> graft.core.Gate.capture(snap(n))._2
        }
      }
      val logs = Await.result(Future.sequence(futs), 10.minutes).toMap
      val reco = logs("reco_item_item")
      val lp = logs("g_label_propagation")
      assert(reco.count(_.name == "reco.kernel") == 1, reco)
      assert(reco.forall(_.name.startsWith("reco.")), reco)
      assert(lp.nonEmpty && lp.forall(_.name.startsWith("labelprop.")), lp)
    } finally pool.shutdown()
  }

  test("cross-dir concurrency: SQL-entry queries isolate per data dir") {
    // Two data dirs served through ONE root session used to fight over
    // session-scoped temp-view names (the round-11 contract hole);
    // Analytics now runs each dir in its own child session
    // (spark.newSession — fresh view namespace, shared SparkContext),
    // so N interleaved copies of the SQL-entry trio on BOTH dirs must
    // each return exactly their sequential result.
    val dirs = Seq(dir, "/root/testdata/sf0.01")
    val sqlEntry = Seq("an_adhoc_sql", "an_catalog_tables", "an_describe_table")
    def snapAt(name: String, d: String): Seq[String] =
      SparkEntry.queries(name)(spark, d).collect()
        .map(_.toString).sorted.toSeq
    val sequential = (for (d <- dirs; n <- sqlEntry)
      yield (n, d) -> snapAt(n, d)).toMap
    // the dirs must actually disagree somewhere, or isolation passes
    // vacuously (an_adhoc_sql aggregates differ across scale factors)
    assert(sequential(("an_adhoc_sql", dirs.head)) !=
      sequential(("an_adhoc_sql", dirs(1))),
      "test dirs yield identical results — pick dirs that differ")
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val submissions = for (_ <- 1 to 3; d <- dirs; n <- sqlEntry) yield (n, d)
      val futs = submissions.map { case (n, d) => Future((n, d) -> snapAt(n, d)) }
      val results = Await.result(Future.sequence(futs), 10.minutes)
      results.foreach { case (key @ (n, d), got) =>
        assert(got == sequential(key),
          s"$n@$d diverged under cross-dir concurrent execution")
      }
    } finally pool.shutdown()
  }

  test("cross-dir concurrency: simultaneous modelInfo round-trips don't clobber") {
    // reco_model_info persists + reloads the trained ALS model; a
    // FIXED save path once let two sessions overwrite each other's
    // model dirs mid-round-trip. The path is app+dir-scoped scratch
    // now (GraftSession.scratchDir), so two dirs served concurrently —
    // through the root session and a child session, the multi-tenant
    // shape — must each load back their OWN model's dimensions.
    val dirs = Seq(dir, "/root/testdata/sf0.01")
    def info(s: org.apache.spark.sql.SparkSession, d: String): Seq[String] =
      graft.ml.Recommender.modelInfo(s, d).collect().map(_.toString).toSeq
    val sequential = dirs.map(d => d -> info(spark, d)).toMap
    assert(sequential(dirs.head) != sequential(dirs(1)),
      "test dirs yield identical model dims — pick dirs that differ")
    val child = spark.newSession()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // one in-flight run per dir: same-(op,dir) concurrency is out of
      // contract (serializable-per-(op,dir), see the suite header) —
      // the clobbering class under test is CROSS-dir/session
      val futs = Seq((dirs.head, spark), (dirs(1), child))
        .map { case (d, s) => Future(d -> info(s, d)) }
      val results = Await.result(Future.sequence(futs), 10.minutes)
      results.foreach { case (d, got) =>
        assert(got == sequential(d),
          s"modelInfo@$d diverged under concurrent round-trips")
      }
    } finally pool.shutdown()
  }
}
