package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.core.GraftSession

/** One timed operation of a workload's loop. `check` carries what the
  * output checker needs: either a verdict made here (`ok` + `detail`)
  * or the rows to compare against an independent engine. */
final case class Op(kind: String, key: String, startMs: Long, ms: Double,
                    ok: Boolean, detail: String, check: Map[String, Any] = Map.empty)

final class Recorder {
  private val ops = new ConcurrentLinkedQueue[Op]()
  def add(op: Op): Unit = ops.add(op)
  def all: Seq[Op] = ops.asScala.toSeq.sortBy(_.startMs)

  /** Time `body`; a throw is recorded as a failed op, never propagated. */
  def time(kind: String, key: String)(body: => (Boolean, String, Map[String, Any])): Op = {
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ok, detail, check) =
      try body
      catch { case e: Throwable => (false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}", Map.empty[String, Any]) }
    val op = Op(kind, key, start, (System.nanoTime() - t0) / 1e6, ok,
      Option(detail).getOrElse("").take(300), check)
    add(op)
    op
  }
}

/** Everything a workload needs at run time. */
final case class Ctx(spark: SparkSession, data: String, work: String, seed: Long,
                     tracer: Tracer, rec: Recorder, extra: mutable.Map[String, Any])

trait Workload {
  /** Set-up state the loop serves from (a warehouse, a model), built
    * once per set-up; `ctx.data` is this set-up's path to the inputs. */
  def fixture(ctx: Ctx): Unit = ()
  /** Untimed, once per run, after the last set-up: JIT and codegen
    * caches, on the inputs the loop reads. */
  def warm(ctx: Ctx): Unit
  /** The seeded request sequence, as text, for the reproducibility hash. */
  def requestTrace(seed: Long): Seq[String]
  /** The timed phase; returns when `deadlineMs` has passed. */
  def run(ctx: Ctx, deadlineMs: Long): Unit
}

/** Benchmark harness main.
  *
  *   perfbench.Harness <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *                     <workDir> <resultFile>
  *   perfbench.Harness --requests <workload> <seed>
  *
  * Sets up `Setups` times (a new session, then the workload's fixture;
  * the first set-up counts from JVM start), warms the last session up
  * untimed, runs the workload's timed loop on it for `seconds`, and
  * writes every op, span and charge to `resultFile` as one JSON object.
  * The benchmark's `run.py` checks the outputs and derives the metrics
  * from it. The second form prints the hash of the workload's seeded
  * request sequence and exits. */
object Harness {
  val workloads: Map[String, Workload] = Map(
    "adhoc_star" -> AdhocStar, "corpus_batch" -> CorpusBatch)

  val Setups = 3

  def main(argv: Array[String]): Unit = {
    if (argv.head == "--requests") {
      println(requestHash(workloads(argv(1)), argv(2).toLong))
      return
    }
    val Array(name, seedS, secondsS, traceS, data, work, out) = argv
    val w = workloads(name)
    val seed = seedS.toLong
    val tracer = new Tracer(traceS == "1")
    val rec = new Recorder
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.Map[String, mutable.Buffer[Double]]()
    def phase[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally setups.getOrElseUpdate(key, mutable.Buffer()) += (System.nanoTime() - t0) / 1e9
    }
    val extra = mutable.Map[String, Any]()
    var ctx: Ctx = null
    (0 until Setups).foreach { i =>
      // the first set-up counts from JVM start
      val t0 = if (i == 0) jvmStart else System.currentTimeMillis()
      if (ctx != null) stop(ctx.spark)
      val spark = phase("session_start_s")(GraftSession.local("perfbench"))
      // a path of its own per set-up: the engine memoizes models and
      // counts per input path, and each set-up starts a new session
      val input = s"$work/input$i"
      java.nio.file.Files.createSymbolicLink(java.nio.file.Paths.get(input),
        java.nio.file.Paths.get(data).toAbsolutePath)
      ctx = Ctx(spark, input, work, seed, tracer, rec, extra)
      if (i == Setups - 1) tracer.attach(spark.sparkContext)
      phase("fixture_s")(w.fixture(ctx))
      setups.getOrElseUpdate("setup_s", mutable.Buffer()) += (System.currentTimeMillis() - t0) / 1e3
    }
    phase("warmup_s")(w.warm(ctx))
    val spark = ctx.spark
    val loopStart = System.currentTimeMillis()
    w.run(ctx, loopStart + (secondsS.toDouble * 1000).toLong)
    val loopS = (System.currentTimeMillis() - loopStart) / 1e3
    tracer.detach()
    val charges = if (tracer.enabled) tracer.charges() else Map.empty[Long, Charge]
    stop(spark)

    val gcS = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val result = Map(
      "workload" -> name, "seed" -> seed, "trace" -> tracer.enabled,
      "cpus" -> GraftSession.defaultCpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setup" -> setups, "loop_s" -> loopS,
      "request_hash" -> requestHash(w, seed),
      "request_head" -> w.requestTrace(seed).take(3),
      "ops" -> rec.all.map(o => Map("kind" -> o.kind, "key" -> o.key, "start_ms" -> o.startMs, "ms" -> o.ms, "ok" -> o.ok, "detail" -> o.detail,
        "check" -> o.check)),
      "extra" -> extra,
      "jvm" -> Map("gc_s" -> gcS, "heap_used_after_mb" -> heapMb,
        "vm_hwm_mb" -> vmHwmMb(), "probe_s" -> hostProbe()),
      "spans" -> tracer.all.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "charges" -> charges.map { case (id, c) => id.toString -> Map(
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks, "run_ms" -> c.runMs,
        "cpu_ns" -> c.cpuNs,
        "shuffle_read" -> c.shuffleRead, "shuffle_write" -> c.shuffleWrite, "spill" -> c.spill,
        "input" -> c.input, "output" -> c.output, "output_rows" -> c.outputRows) })
    val pw = new java.io.PrintWriter(out, "UTF-8")
    try pw.write(Json(result)) finally pw.close()
  }

  def requestHash(w: Workload, seed: Long): String =
    Integer.toHexString(w.requestTrace(seed).mkString("\n").hashCode)

  private def stop(spark: SparkSession): Unit = {
    GraftSession.dropScratch(spark)
    spark.stop()
  }

  private def vmHwmMb(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
    finally src.close()
  }.getOrElse(-1.0)

  /** Data-free host-speed probe: a fixed integer/sqrt mix timed on one
    * thread. It rides beside the metrics so a reader can tell a slow
    * host epoch from a slow program. */
  private def hostProbe(): Double = {
    def kernel(seed: Long, iters: Long): Long = {
      var x = seed; var acc = 0L; var i = 0L
      while (i < iters) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += java.lang.Long.bitCount(x) +
          java.lang.Double.doubleToRawLongBits(math.sqrt((x & 0xFFFFFFL).toDouble))
        i += 1
      }
      acc
    }
    var sink = kernel(42L, 5000000L)
    val t0 = System.nanoTime()
    sink ^= kernel(0x9E3779B97F4A7C15L, 40000000L)
    val s = (System.nanoTime() - t0) / 1e9
    if (sink == 42L) System.err.println("probe sink")
    s
  }

  // ---- shared helpers for the workloads --------------------------------

  /** A row as JSON-ready values (dates and timestamps as ISO text). */
  def cells(r: Row): Seq[Any] = r.toSeq.map(cell)
  private def cell(v: Any): Any = v match {
    case null => null
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case t: java.time.Instant => java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).toString
    case t: java.time.LocalDateTime => t.toString
    case s: scala.collection.Seq[_] => s.map(cell)
    case r: Row => cells(r)
    case other => other
  }

  /** Order-independent digest of a result: row count, and the sum and
    * xor of a 64-bit hash of each row's text. */
  def digest(rows: Array[Row]): String = {
    var sum = 0L; var xor = 0L
    rows.foreach { r =>
      val s = r.toString
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x1234) & 0xffffffffL)
      sum += h; xor ^= h
    }
    s"${rows.length}:${java.lang.Long.toHexString(sum)}:${java.lang.Long.toHexString(xor)}"
  }
}
