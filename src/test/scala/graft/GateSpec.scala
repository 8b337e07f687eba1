package graft

import graft.core.Gate

/** graft.core.Gate: the per-query decision scope, and the source-level
  * rule that every `graft.*` conf key is parsed there and nowhere else.
  * Decisions of real entries are pinned where the entries are
  * (PlanSpec for the item-item kernel, ConcurrencySpec for two
  * captures at once). */
class GateSpec extends SparkSpec {

  test("capture returns its decisions in order; outside a capture a " +
      "record is a no-op that never renders its inputs") {
    var rendered = 0
    def inputs = { rendered += 1; Seq("x" -> 1L) }
    assert(Gate.record("outside", "", 0L, inputs)(outcome = true))
    assert(rendered == 0)
    val (out, log) = Gate.capture {
      Gate.record("a", "", 1L, inputs)(outcome = true)
      Gate.record("b", "", 2L, Nil)(outcome = false)
      42
    }
    assert(out == 42)
    assert(rendered == 1)
    assert(log.map(d => (d.name, d.limit, d.outcome)) ==
      Seq(("a", 1L, true), ("b", 2L, false)))
    assert(log.head.inputs == Seq("x" -> 1L))
    assert(log.head.toString == "a=true limit=1 x=1")
  }

  test("captures nest innermost-only; a thread started inside a capture " +
      "cannot record into it after it ends") {
    val release = new java.util.concurrent.CountDownLatch(1)
    var late: Thread = null
    val (_, outer) = Gate.capture {
      Gate.record("outer", "", 0L, Nil)(outcome = true)
      val (_, inner) = Gate.capture(Gate.record("inner", "", 0L, Nil)(outcome = true))
      assert(inner.map(_.name) == Seq("inner"))
      // the new thread inherits the open scope
      late = new Thread(() => {
        release.await()
        Gate.record("late", "", 0L, Nil)(outcome = true)
      })
      late.start()
    }
    release.countDown()
    late.join()
    assert(outer.map(_.name) == Seq("outer"))
  }

  test("atMost reads its conf key, falling back to the default") {
    val key = "graft.test.gateLimit"
    val (_, log) = Gate.capture {
      assert(Gate.atMost(spark, "t", key, 10L, 10L))
      spark.conf.set(key, "9")
      try assert(!Gate.atMost(spark, "t", key, 10L, 10L, Seq("why" -> "conf")))
      finally spark.conf.unset(key)
    }
    assert(log.map(d => (d.key, d.limit, d.outcome)) ==
      Seq((key, 10L, true), (key, 9L, false)))
    assert(log(1).inputs == Seq("value" -> 10L, "why" -> "conf"))
  }

  test("fetchBound is limit + 1, saturating into [0, Int.MaxValue]") {
    assert(Gate.fetchBound(4000000L) == 4000001)
    assert(Gate.fetchBound(-1L) == 0)
    assert(Gate.fetchBound(Long.MinValue) == 0)
    assert(Gate.fetchBound(Int.MaxValue - 1L) == Int.MaxValue)
    assert(Gate.fetchBound(Long.MaxValue) == Int.MaxValue)
  }

  /** (path under src/main/scala, text) of every main source file. */
  private lazy val mainSources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => (root.relativize(p).toString,
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
    } finally files.close()
  }

  test("src/main parses session confs only through Gate, keeps its five " +
      "graft.* keys, and reads none of the deleted knobs") {
    assert(mainSources.exists(_._1 == "graft/core/Gate.scala"))
    // outside Gate, a session conf read names a spark.* key literally —
    // a graft.* key, held in a literal or in a val, goes through Gate
    val confRead = """\.conf\s*\.\s*(get\w*|contains)\s*\(\s*(?!"spark\.)""".r
    val offenders = for {
      (path, src) <- mainSources if path != "graft/core/Gate.scala"
      m <- confRead.findAllMatchIn(src)
    } yield s"$path: ${src.substring(m.start, math.min(src.length, m.end + 40))}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val keys = """"(graft\.[a-z]+\.[a-z][A-Za-z]*)"""".r
    val found = mainSources.flatMap { case (_, src) =>
      keys.findAllMatchIn(src).map(_.group(1)) }.toSet
    assert(found == Set("graft.pagerank.broadcastNodeLimit",
      "graft.labelprop.broadcastNodeLimit", "graft.ann.maxBroadcastRows",
      "graft.reco.niBroadcastLimit", "graft.reco.forcePairExchange"), found)
    val deleted = Seq("GRAFT_PR_BCAST_LIMIT", "GRAFT_LP_BCAST_LIMIT",
      "GRAFT_SPREAD_LOG", "GRAFT_DEBUG_RECALL", "GRAFT_PROF_CONF",
      "GRAFT_PLANDUMP_CONF", "graft.dedup.packGrams")
    val stale = for {
      (path, src) <- mainSources; name <- deleted if src.contains(name)
    } yield s"$path: $name"
    assert(stale.isEmpty, stale.mkString("\n"))
  }

  test("src/main keeps no @volatile hook vars (the codec seam aside)") {
    val hooks = mainSources.filter { case (path, src) =>
      path != "graft/multimodal/Multimodal.scala" && src.contains("@volatile")
    }.map(_._1)
    assert(hooks.isEmpty, hooks.mkString("\n"))
  }
}
