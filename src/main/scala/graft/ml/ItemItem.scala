package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Gate, Tables}

/** Item-item collaborative filtering on binary co-purchase (SURVEY.md
  * §2.8 — the memory-based "customers also bought" neighbor model the
  * reference serves without trained factors): cosine(i,j) =
  * n_ij / √(n_i·n_j) over distinct (user, item) purchases, top-k
  * neighbors per item, ties broken by neighbor id. Exact and
  * bit-deterministic (integer counts, one correctly-rounded sqrt +
  * division), so it hash-matches the DuckDB oracle directly.
  *
  * Scale shape: the pair build self-joins users, so its cost is
  * Σ_u d(u)² — bounded ONLY if per-user degree is; the degree cap
  * (≤1000 distinct items, a no-op on this data, load-bearing on
  * power-law users) keeps the quadratic term linear-ish in practice.
  *
  * TWO physical strategies behind one result contract:
  *
  * KERNEL (default whenever the item catalog fits a driver-side count
  * table — the same ceiling the legacy path uses to broadcast its
  * denominator joins): the directed pair stream (a≠b, both directions
  * — emitting both directions out of the self-join costs nothing,
  * the join materializes d(u)² rows either way) is packed into ONE
  * long per pair ((a<<32)|b; gated on ids in [0, 2³¹)), routed once
  * BY SOURCE ITEM, and each reduce partition sorts its packed longs
  * and run-length-scans them: a run of equal values IS (a, b, n_ab),
  * runs of one item are consecutive and already neighbor-ordered, so
  * exact counts, the cosine against the broadcast n_i table and the
  * bounded top-k selection all happen in one primitive-array pass
  * that emits FINAL rows (item, rank, neighbor, n_ab, cosine).
  * Replaces the legacy tail — a 10⁹-key final hash aggregate that
  * spilled ~37 GB at the 100× rehearsal, two denominator joins and a
  * mirror union re-streaming every pair, and a top-k heap aggregate
  * with its own exchange — with one exchange and an O(m log m)
  * per-partition scan.
  *
  * The exchange itself ships DELTA+VARINT BLOBS, not rows: each map
  * task batches its pairs into per-reduce-partition chunks, sorts
  * each chunk, and LEB128-encodes first-pk + gaps (a duplicate pk —
  * the same pair seen via two users in one chunk — is one 0x00
  * byte). On this corpus shape consecutive sorted pks within one
  * source item differ by ~catalog/d(i), so a pair costs ~2 B on the
  * wire vs 8 B packed + UnsafeRow/serializer overhead as rows — the
  * shuffle-disk term that ENOSPC'd the sf30 rehearsal and spilled
  * one bounded pass at sf20 (measured numbers in BASELINE.md). The reduce side decodes (multiset-exact
  * by construction), re-sorts, and scans as before, so the result is
  * bit-identical to the row exchange. Map-side memory is bounded by
  * the chunk budget (≤ 64M longs = 512 MB across all targets, and in
  * practice the emit-widening law keeps a task's whole pair slice
  * near ~32M pairs); the shuffle sorter itself sees only a few
  * hundred small records per task, so the sorter's buffer-then-merge
  * double-write of the raw-row layout is gone entirely. The reduce
  * partition count derives from a metadata-cheap pair-volume
  * estimate so the decoded slice stays ~128 MB at any scale, the
  * analog of one executor core's shuffle slice on a real cluster.
  *
  * LEGACY (ids outside [0, 2³¹) or a catalog past the broadcast
  * ceiling): canonical a<b half-pair aggregation + dual-path
  * denominator attach + mirror + bounded-heap top-k aggregate — every
  * stage shuffle-hash hinted sort-free; see the inline comments.
  *
  * The kernel's driver-side n_i collect is the entry's MODEL BUILD,
  * deliberately at query-construction time like the ALS family's
  * train() — bounded by the same gate that already bounded the legacy
  * broadcast (`graft.reco.niBroadcastLimit`, default 4M items), so it
  * can never become an unbounded driver fetch on a corpus where the
  * legacy path wouldn't have broadcast the same table.
  *
  * Path choices are recorded as graft.core.Gate decisions: `reco.kernel`
  * (kernel or legacy) and, on the kernel path, `reco.pair_exchange`
  * (whether the pair emit paid a user exchange, and why).
  */
object ItemItem {

  /** Sentinel a gate probe returns for a PROVABLY-missing table
    * (CountMemo onMissing) — distinct from Long.MaxValue (transient
    * error → legacy path): missing means "no catalog pre-check
    * available, size via the bounded limit+1 collect instead". */
  val MissingTable: Long = -1L

  private val NiLimitKey = "graft.reco.niBroadcastLimit"
  private val ForceExchangeKey = "graft.reco.forcePairExchange"

  /** n_i lookup shipped to the kernel: dense direct-indexed array when
    * the id space is compact (TPC-H partkeys are 1..P — one DRAM touch
    * per probe), open-addressing linear-probe table otherwise (~1-2
    * touches; never more than 50% loaded). Both deterministic. */
  private[graft] sealed trait NiLookup extends Serializable {
    def get(item: Long): Long
  }
  private final class DenseNi(arr: Array[Long]) extends NiLookup {
    def get(item: Long): Long = arr(item.toInt)
  }
  private final class HashNi(keys: Array[Int], vals: Array[Long]) extends NiLookup {
    private val mask = keys.length - 1
    def get(item: Long): Long = {
      val k = item.toInt
      var i = (((k * 0x9E3779B9) >>> 16) ^ k) & mask
      while (keys(i) != k) i = (i + 1) & mask // gate guarantees presence
      vals(i)
    }
  }

  private[graft] def buildLookup(ids: Array[Long], counts: Array[Long]): NiLookup = {
    val n = ids.length
    var maxId = -1L
    var i = 0
    while (i < n) { if (ids(i) > maxId) maxId = ids(i); i += 1 }
    // dense when ≤4× overallocated (and never >32M slots): the direct
    // array wins every probe it can afford the memory for
    if (maxId < (1L << 25) && maxId + 1 <= 4L * n + 1024) {
      val arr = new Array[Long]((maxId + 1).toInt)
      i = 0
      while (i < n) { arr(ids(i).toInt) = counts(i); i += 1 }
      new DenseNi(arr)
    } else {
      var cap = 16
      while (cap < 2 * n) cap <<= 1
      val keys = new Array[Int](cap)
      java.util.Arrays.fill(keys, -1)
      val vals = new Array[Long](cap)
      val mask = cap - 1
      i = 0
      while (i < n) {
        val k = ids(i).toInt
        var j = (((k * 0x9E3779B9) >>> 16) ^ k) & mask
        while (keys(j) != -1) j = (j + 1) & mask
        keys(j) = k; vals(j) = counts(i)
        i += 1
      }
      new HashNi(keys, vals)
    }
  }

  /** The sorted-scan core: run-length-scan packed (a<<32)|b pairs —
    * runs of equal values are exact (a, b, n_ab); runs of one item are
    * consecutive and neighbor-ascending — keeping a k-slot
    * insertion-sorted best list per item. Strict > on the cosine
    * preserves the (cosine desc, neighbor asc) tie-break because
    * neighbors arrive ascending. Emits FINAL result rows. */
  private[graft] def scanSorted(buf: Array[Long], n: Int, ni: NiLookup, k: Int)
      : scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Long, Double)] = {
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Long, Double)]
    val tCos = new Array[Double](k); val tNb = new Array[Long](k)
    val tCnt = new Array[Long](k)
    var tSize = 0
    var curItem = -1L
    var na = 0L
    def flush(): Unit = {
      var r = 0
      while (r < tSize) {
        out += ((curItem, r + 1, tNb(r), tCnt(r), tCos(r))); r += 1
      }
      tSize = 0
    }
    var i = 0
    while (i < n) {
      val pk = buf(i)
      var j = i + 1
      while (j < n && buf(j) == pk) j += 1
      val a = pk >>> 32
      val b = pk & 0xFFFFFFFFL
      if (a != curItem) { flush(); curItem = a; na = ni.get(a) }
      val cnt = (j - i).toLong
      // same arithmetic shape as the SQL: long product, one cast, one
      // correctly-rounded sqrt and division — bit-identical to DuckDB
      val cos = cnt.toDouble / math.sqrt((na * ni.get(b)).toDouble)
      if (tSize < k || cos > tCos(tSize - 1)) {
        var pos = if (tSize < k) tSize else k - 1
        while (pos > 0 && cos > tCos(pos - 1)) {
          tCos(pos) = tCos(pos - 1); tNb(pos) = tNb(pos - 1)
          tCnt(pos) = tCnt(pos - 1); pos -= 1
        }
        tCos(pos) = cos; tNb(pos) = b; tCnt(pos) = cnt
        if (tSize < k) tSize += 1
      }
      i = j
    }
    flush()
    out
  }

  private val outputSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "item BIGINT NOT NULL, rank INT NOT NULL, neighbor BIGINT NOT NULL, " +
      "n_ab BIGINT NOT NULL, cosine DOUBLE NOT NULL")

  /** Deterministic reduce-partition of a source item. A mixed hash,
    * not bare `a % p`: sequential id spaces (TPC-H partkeys) modulo a
    * small p would alias any id-assignment periodicity straight into
    * partition skew. Content-defined, so the exchange layout is
    * deterministic; changing it is a repartitioning, never a semantic
    * change (the reduce side re-sorts whatever multiset it receives). */
  private[graft] def targetOf(a: Int, p: Int): Int = {
    var h = a * 0x9E3779B9
    h ^= h >>> 16
    (h & 0x7FFFFFFF) % p
  }

  private final class ByteVec(initial: Int) {
    var a = new Array[Byte](math.max(16, initial))
    var n = 0
    def add(b: Byte): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n << 1)
      a(n) = b; n += 1
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(a, n)
  }

  /** REFERENCE encoder for the wire format (the production emit path
    * is encodePairBlobs' sorted walk, which streams the same format
    * without materializing per-target long buffers; the spec
    * roundtrips both through decodeChunk): sort buf[0..n) in place
    * and delta+LEB128 encode it — the first pk absolute, every later
    * pk as its gap to the previous one (sorted ⇒ nonnegative ⇒ no
    * zigzag; pks are < 2⁶³ by the id gate so the absolute head fits
    * 9 bytes). A duplicate pk — the same (a, b) co-occurring via two
    * users in this chunk — is gap 0, one byte: the map-side combining
    * the raw-row exchange lacked, for free. */
  private[graft] def encodeChunk(buf: Array[Long], n: Int): Array[Byte] = {
    java.util.Arrays.sort(buf, 0, n)
    val out = new ByteVec(n * 3)
    var prev = 0L
    var i = 0
    while (i < n) {
      var x = if (i == 0) buf(0) else buf(i) - prev
      prev = buf(i)
      while ((x & ~0x7FL) != 0) { out.add(((x & 0x7FL) | 0x80L).toByte); x >>>= 7 }
      out.add(x.toByte)
      i += 1
    }
    out.toArray
  }

  /** Decode one chunk into (a possibly-regrown) buf, returning the new
    * (buf, n). Exact inverse of encodeChunk up to order — the caller
    * re-sorts the union of all chunks, so per-chunk sortedness is an
    * encoding detail, not a decode contract. */
  private[graft] def decodeChunk(bytes: Array[Byte], buf0: Array[Long],
                                 n0: Int): (Array[Long], Int) = {
    var buf = buf0; var n = n0
    var pos = 0; var prev = 0L; var first = true
    while (pos < bytes.length) {
      var x = 0L; var shift = 0; var b = 0
      do {
        b = bytes(pos) & 0xFF; pos += 1
        x |= (b & 0x7FL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      val pk = if (first) { first = false; x } else prev + x
      prev = pk
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n << 1)
      buf(n) = pk; n += 1
    }
    (buf, n)
  }

  /** True iff the EXECUTED (post-AQE-finalization) plan of the capped
    * purchases proves pairGenRows' invariant — every user's rows in
    * one partition. The positive proof: the plan root (through narrow
    * wrappers) is the degree-cap semi-join as a NON-skew
    * ShuffledHashJoin streaming on exactly `user`. Two runtime events
    * break the invariant and both make this return false: (a) AQE's
    * OptimizeSkewedJoin splitting a skewed stream-side partition into
    * mapper-range slices (one user's items land in several slices —
    * the join is then marked isSkewJoin and cross-slice pairs would
    * otherwise be silently dropped); (b) any demotion of the semi-join
    * to a broadcast form (output then keeps the upstream distinct's
    * (user, item) partitioning, which does NOT co-locate users).
    * Checking the reported outputPartitioning instead does not work:
    * AQE conservatively reports UnknownPartitioning even for intact
    * hash-partitioned output (coalesced reads), which would force the
    * safety exchange on EVERY run. Anything unrecognized fails closed
    * onto the exchange — wrong answers are never on the table. */
  private[graft] def pairLocalityHolds(
      qe: org.apache.spark.sql.execution.QueryExecution): Boolean = {
    import org.apache.spark.sql.execution._
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: adaptive.AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: adaptive.QueryStageExec => unwrap(q.plan)
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case _ => p
    }
    unwrap(qe.executedPlan) match {
      case j: joins.ShuffledHashJoinExec =>
        !j.isSkewJoin && j.leftKeys.nonEmpty && j.leftKeys.forall {
          case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
            a.name == "user"
          case _ => false
        }
      case _ => false
    }
  }

  /** Directed-pair ENCODER over one partition of the CAPPED purchases
    * (which are hash-partitioned by user — the cap semi-join's
    * exchange — so every user's items are local): group items per
    * user in a small map, then generate every ordered pair (i≠j) as a
    * packed (a<<32)|b long APPENDED to one contiguous batch array,
    * sort the batch once, and walk it in ascending pk order streaming
    * LEB128 deltas into one small byte encoder per reduce target.
    * This replaces both a d(u)²-row self-JOIN (the join's
    * per-output-row probe machinery and its two extra checkpoint
    * scans measured ~30% of the whole entry at the 100× rehearsal)
    * and the raw-row pair exchange (8 B + row overhead per pair; the
    * encoded stream is ~1.7 B/pair measured on this corpus shape, and
    * the shuffle sorter sees a few hundred blob records instead of
    * tens of millions of rows — its spill-then-merge double-write is
    * gone).
    *
    * Why ONE array + ONE sort, not per-target chunk buffers: the
    * first shipped layout kept p growing long buffers per task and
    * sorted each ~chunk as it filled — at sf10 that is ~150 × 3.6 MB
    * live arrays per task (~17 GB across 32 local threads), every one
    * a G1 humongous object churning per chunk cycle, and the emit
    * stage measured 5220 task-s against the raw-row layout's 863.
    * The batch layout generates sequentially into one allocation,
    * sorts once (the per-chunk sorts did the same O(n log n) compares
    * with worse locality), and the ascending walk hands each target
    * an ASCENDING pk subsequence — so per-target delta encoding needs
    * only (prev, started) per target, no long buffering at all, and
    * duplicates land adjacent GLOBALLY (strictly no-worse compression
    * than per-chunk sorting). Wire format unchanged: decodeChunk
    * reads every blob either layout writes.
    *
    * Memory law: the batch is min(task's total pairs, 8M) longs —
    * 64 MB at the cap, ONE allocation reused across however many
    * batches the task needs, so emit memory is bounded at 64 MB per
    * task AT ANY CORPUS SIZE, independent of the emit-widening law's
    * ~32M-pairs-per-task CPU/slice budget (a first cut sized the
    * batch to that whole budget — 256 MB × 32 local threads of
    * G1-humongous arrays alongside the 5 GB checkpoint blocks OOM'd a
    * 30 g heap at sf10; decoupling the two bounds is the point). A
    * task processes whole users in batch-sized groups — each batch
    * closes its targets' streams and emits, so peak memory stays at
    * the cap however many pairs the task holds (the degree cap bounds
    * one user's pairs at ~1M, far under the cap, so a batch always
    * makes progress; a cap-dodging user larger than the whole batch
    * grows it rather than corrupt it). Cross-batch duplicate pairs no
    * longer merge to a 1-byte gap and each batch re-pays one absolute
    * head per target (~p·9 B) — measured ~1.7 B/pair either way. Null
    * items (kept upstream for the degree count, exactly like the
    * legacy plan) never pair. `batchCap` is a law parameter for the
    * spec's multi-batch exercise, never overridden in production. */
  private[graft] def encodePairBlobs(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow], p: Int,
      batchCap: Long = 1L << 23): Iterator[(Int, Array[Byte])] = {
    final class IntVec {
      var a = new Array[Int](8)
      var n = 0
      def add(v: Int): Unit = {
        if (n == a.length) a = java.util.Arrays.copyOf(a, n << 1)
        a(n) = v; n += 1
      }
    }
    val byUser = new java.util.HashMap[Long, IntVec]()
    var totalPairs = 0L
    while (it.hasNext) {
      val r = it.next()
      if (!r.isNullAt(1)) {
        val u = r.getLong(0)
        var vec = byUser.get(u)
        if (vec == null) { vec = new IntVec; byUser.put(u, vec) }
        vec.add(r.getLong(1).toInt)
        // n items so far: the new item pairs with the n-1 before it,
        // in both directions
        totalPairs += 2L * (vec.n - 1)
      }
    }
    if (totalPairs == 0L) return Iterator.empty
    val users = byUser.entrySet().iterator()
    new Iterator[(Int, Array[Byte])] {
      private var batch =
        new Array[Long](math.max(1L, math.min(totalPairs, batchCap)).toInt)
      private var carried: IntVec = null
      private var out: Iterator[(Int, Array[Byte])] = Iterator.empty
      /** Fill one batch with WHOLE users' pair sets, sort, walk-encode.
        * False when no users remain. */
      private def nextBatch(): Boolean = {
        var n = 0
        var go = true
        while (go) {
          val vec =
            if (carried != null) carried
            else if (users.hasNext) users.next().getValue
            else null
          if (vec == null) go = false
          else {
            val m = vec.n
            val pairsU = m.toLong * (m - 1)
            if (pairsU == 0) carried = null // single purchase: no pairs
            else if (n > 0 && n + pairsU > batch.length) {
              carried = vec; go = false // close the batch, user intact
            } else {
              // a single user larger than the whole batch (only
              // reachable if the degree cap is lifted or a spec
              // shrinks batchCap): grow rather than write past the end
              if (pairsU > batch.length)
                batch = new Array[Long](pairsU.toInt)
              carried = null
              val items = vec.a
              var i = 0
              while (i < m) {
                val hi = items(i).toLong << 32
                var j = 0
                while (j < m) {
                  if (j != i) { batch(n) = hi | items(j).toLong; n += 1 }
                  j += 1
                }
                i += 1
              }
            }
          }
        }
        if (n == 0) return false
        java.util.Arrays.sort(batch, 0, n)
        // ascending walk: each target receives an ascending pk
        // subsequence, so a (prev, started) pair per target is the
        // whole encoder state; the target only changes when the
        // source item does (runs are contiguous after the sort)
        val vecs = new Array[ByteVec](p)
        val prev = new Array[Long](p)
        val live = new Array[Boolean](p)
        var curA = -1L
        var t = 0
        var i = 0
        while (i < n) {
          val pk = batch(i)
          val a = pk >>> 32
          if (a != curA) { curA = a; t = targetOf(a.toInt, p) }
          var bv = vecs(t)
          if (bv == null) { bv = new ByteVec(64); vecs(t) = bv }
          var x = if (live(t)) pk - prev(t) else { live(t) = true; pk }
          prev(t) = pk
          while ((x & ~0x7FL) != 0) {
            bv.add(((x & 0x7FL) | 0x80L).toByte); x >>>= 7
          }
          bv.add(x.toByte)
          i += 1
        }
        out = (0 until p).iterator
          .filter(vecs(_) != null).map(t => (t, vecs(t).toArray))
        true
      }
      override def hasNext: Boolean = {
        while (!out.hasNext) if (!nextBatch()) return false
        true
      }
      override def next(): (Int, Array[Byte]) = {
        if (!hasNext) throw new NoSuchElementException
        out.next()
      }
    }
  }

  /** Identity partitioner for the chunk exchange: the encoder already
    * computed each chunk's reduce partition (targetOf), so the key IS
    * the partition — re-hashing it would alias p targets into ~0.63p
    * occupied partitions and reintroduce avoidable skew. */
  private final class IdPartitioner(override val numPartitions: Int)
      extends org.apache.spark.Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case x: IdPartitioner => x.numPartitions == numPartitions
      case _                => false
    }
    override def hashCode: Int = numPartitions
  }

  /** One reduce partition of the kernel: decode every incoming chunk
    * into one primitive long array, sort, run-length scan, emit
    * UnsafeRows. Bit-identical to the raw-row layout's result — the
    * decoded union is the same pk multiset the rows carried, and the
    * sort+scan is unchanged. */
  private[graft] def decodeScanPartition(
      blobs: Iterator[Array[Byte]], ni: NiLookup, k: Int)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    var buf = new Array[Long](1 << 13)
    var n = 0
    while (blobs.hasNext) {
      val r = decodeChunk(blobs.next(), buf, n)
      buf = r._1; n = r._2
    }
    java.util.Arrays.sort(buf, 0, n)
    val out = scanSorted(buf, n, ni, k)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(outputSchema)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(5)
    out.iterator.map { case (item, rank, nb, cnt, cos) =>
      row.update(0, item); row.update(1, rank); row.update(2, nb)
      row.update(3, cnt); row.update(4, cos)
      proj(row).copy()
    }
  }

  /** Distinct capped (user, item) purchases — shared by both paths. */
  private def cappedPurchases(t: Tables): DataFrame = {
    val ui = t.orders.select(col("o_orderkey"), col("o_custkey"))
      .hint("shuffle_hash")
      .join(t.lineitem.select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
      .distinct()
    ui.join(
      ui.groupBy("user").agg(count(lit(1)).as("_d"))
        .filter(col("_d") <= 1000).select("user").hint("shuffle_hash"),
      Seq("user"), "left_semi")
  }

  /** Top-k item neighbors. `partCount`/`lineitemCount`/`customerCount`
    * are the caller's memoized parquet-metadata probes (Long.MaxValue
    * on error — fails CLOSED onto the legacy/default path). */
  def neighbors(t: Tables, k: Int, partCount: Long, lineitemCount: Long,
                customerCount: Long): DataFrame = {
    val out = neighborsImpl(t, k, Gate.limit(t.spark, NiLimitKey, 4000000L),
      partCount, lineitemCount, customerCount)
    // rehearsal-scale scratch release: once the impl frame returns, the
    // capped pipeline's QueryExecution (and with it every upstream
    // fact-join/distinct/cap ShuffleDependency) is unreachable — the
    // served frame roots only at the localCheckpoint blocks — but the
    // ContextCleaner only unregisters (and deletes) those shuffle files
    // after a GC notices them, and with a rehearsal-sized heap the JVM
    // may not GC before the emit has already written its own chunk
    // shuffle on top (the sf30 ENOSPC stack-up). One explicit GC here
    // frees the upstream tens of GB BEFORE the emit starts. Gated on a
    // REAL pair estimate ≥ 2³⁰ (sf0.1's is ~24M; the sentinel is not a
    // measurement), so gate-scale entries never pay the pause.
    val est = pairsEstimate(lineitemCount, customerCount)
    if (est != Long.MaxValue && est >= (1L << 30)) System.gc()
    out
  }

  private def neighborsImpl(t: Tables, k: Int, niBroadcastLimit: Long,
                            partCount: Long, lineitemCount: Long,
                            customerCount: Long): DataFrame = {
    val s = t.spark
    import s.implicits._
    val capped = cappedPurchases(t)
    val ni = capped.groupBy(col("item")).agg(count(lit(1)).as("n_i"))

    // kernel gate: the n_i table must fit the driver. The memoized
    // part-table count is the cheap pre-check (same ceiling the legacy
    // broadcast uses); corpora WITHOUT a part table (hand fixtures —
    // partCount == MissingTable, distinguished from transient errors
    // by the caller's shared CountMemo) fall through to the limit+1
    // collect, whose driver footprint is bounded by construction even
    // if the catalog turns out huge — the executors then did one
    // wasted pass and legacy takes over.
    def kernelGate(inputs: => Seq[(String, Any)])(kernel: Boolean): Boolean =
      Gate.record("reco.kernel", NiLimitKey, niBroadcastLimit,
        ("part_rows" -> partCount) +: inputs)(kernel)
    if ((partCount >= 0 && partCount <= niBroadcastLimit)
        || partCount == MissingTable) {
      // one materialization of the capped purchases: without it the
      // fact-join→distinct→cap subtree executes THREE times (the n_i
      // collect job + once per self-join side — the alias rename
      // defeats exchange reuse), measured as ~half the sf1 wall. The
      // checkpoint is gated with the kernel, so it only ever pins a
      // frame whose catalog already fit the driver table; Bench's
      // inter-query hygiene (getPersistentRDDs.unpersist) reclaims it.
      val cappedCp = capped.localCheckpoint()
      val niCp = cappedCp.groupBy(col("item")).agg(count(lit(1)).as("n_i"))
      val rows = niCp.select(col("item").cast("long"), col("n_i"))
        .limit(Gate.fetchBound(niBroadcastLimit))
        .collect()
      val nonNull = rows.filter(!_.isNullAt(0))
      val idsOk = nonNull.forall { r =>
        val id = r.getLong(0); id >= 0 && id < (1L << 31)
      }
      // the served plan is the RDD wrap, so the pipeline's executed
      // plan (AQE-final: the checkpoint ran) rides the decision — as a
      // STRING: a retained QueryExecution pins every upstream shuffle
      // (tens of GB of undeletable files at the sf30 rehearsal)
      val kernel = kernelGate(Seq("catalog_rows" -> rows.length,
        "ids_in_range" -> idsOk,
        "capped_plan" -> capped.queryExecution.executedPlan.toString))(
        rows.length <= niBroadcastLimit && idsOk)
      if (!kernel) {
        // catalog or id shape disqualified the kernel after the
        // checkpoint already materialized — let legacy consume it
        legacyNeighbors(t, cappedCp, niCp, k, niBroadcastLimit, partCount)
      } else {
        val ids = nonNull.map(_.getLong(0))
        val counts = nonNull.map(_.getLong(1))
        val bc = s.sparkContext.broadcast(buildLookup(ids, counts))
        // directed pairs, BOTH orientations (the a<b + mirror form
        // materializes the same d(u)² rows and then re-streams them),
        // generated by pairGenRows straight off the user-partitioned
        // checkpoint — a self-JOIN here would re-scan the checkpoint
        // twice and pay a hash probe per emitted row for pairs the
        // per-user double loop emits for free. The user-locality the
        // loop requires is VERIFIED on the materialized plan, not
        // assumed from its shape (pairLocalityHolds reads the executed
        // QE the checkpoint just ran): an AQE skew-split semi-join
        // leaves one user's items across slices, so that case (and any
        // other unrecognized final shape) pays one explicit user
        // exchange instead of silently dropping cross-slice pairs.
        // (In Spark 4.1.2 OptimizeSkewedJoin additionally only matches
        // joins whose children are BARE shuffle stages — the semi-join
        // build side's agg/filter/project prevents a match today — but
        // the guard does not RELY on that pattern-match detail
        // surviving a Spark upgrade. graft.reco.forcePairExchange is
        // the operator escape hatch: force the exchange on a Spark
        // build where the positive proof can't be established.)
        val forceExchange = Gate.flag(s, ForceExchangeKey)
        val pairSrc0 = cappedCp.select(col("user"), col("item"))
        val userLocal =
          !forceExchange && pairLocalityHolds(capped.queryExecution)
        val defaultP = s.conf.get("spark.sql.shuffle.partitions").toInt
        // the EMIT side must scale with pair volume too: the emit
        // stage's task count is otherwise pinned at the cap
        // semi-join's partition count (spark.sql.shuffle.partitions,
        // or fewer after AQE coalescing), so pairs per map task grow
        // linearly with data — measured at the sf20 rehearsal: sf10
        // 82M pairs/task ran clean, sf20 164M pairs/task hit a
        // 139 GB-memory-spill cliff on the old raw-row sorter and,
        // on the chunk encoder, would hold the whole slice's pair
        // buffer on heap. emitPartitions sizes the map side from the
        // same pairsEst (budget ~32M pairs/task ≈ 256 MB of packed
        // longs); when the source's ACTUAL partition count already
        // meets the budget — every gate-scale corpus — nothing
        // engages and the guard-proven no-exchange path is untouched.
        // Widening pays one slim (user, item) hash exchange whose
        // locality encodePairBlobs needs holds by construction. A
        // FAILED estimate (fail-closed sentinel, not a measurement)
        // never converts the guard-proven no-exchange path into a
        // wide shuffle (round-16 advice): sentinel + userLocal skips
        // widening, sentinel + guard-refused caps the width at a
        // small multiple of the session default.
        val actualParts = cappedCp.rdd.getNumPartitions
        val pairsEst = pairsEstimate(lineitemCount, customerCount)
        val emitNeed = emitPartitions(pairsEst, userLocal, defaultP)
        // both causes are inputs: past ~sf10 they coincide
        val exchange = Gate.record("reco.pair_exchange", ForceExchangeKey,
          actualParts, Seq("forced" -> forceExchange, "user_local" -> userLocal,
            "emit_need" -> emitNeed, "pairs_est" -> pairsEst))(
          !userLocal || emitNeed > actualParts)
        val pairSrc =
          if (exchange)
            pairSrc0.repartition(math.max(emitNeed, defaultP), col("user"))
          else pairSrc0
        val p = pairPartitions(defaultP, lineitemCount, customerCount)
        val rdd = org.apache.spark.sql.graftbridge.RowBridge
          .toInternalRdd(pairSrc)
          .mapPartitions(rows => encodePairBlobs(rows, p))
          .partitionBy(new IdPartitioner(p))
          .mapPartitions(chunks =>
            decodeScanPartition(chunks.map(_._2), bc.value, k))
        org.apache.spark.sql.graftbridge.RowBridge
          .ofInternalRows(s, rdd, outputSchema)
      }
    } else {
      kernelGate(Nil)(false)
      legacyNeighbors(t, capped, ni, k, niBroadcastLimit, partCount)
    }
  }

  /** The metadata-cheap directed-pair volume estimate L·(L/C) both
    * partition laws derive from — ONE definition so they can never
    * diverge silently (they duplicated it verbatim through round 16).
    * Long.MaxValue is the fail-closed SENTINEL — failed probes or an
    * empty customer count, i.e. "no measurement exists" — and each
    * law chooses its own sentinel posture. A REAL estimate that
    * overflows multiplyExact (a plain * can overflow NEGATIVE at
    * extreme row counts, which would collapse partition counts to the
    * floor exactly where the clamps matter) saturates to
    * MaxValue − 1: still "astronomically large" for the division
    * laws, but never aliased with "unknown". */
  private[graft] def pairsEstimate(lineitemCount: Long,
                                   customerCount: Long): Long =
    if (lineitemCount == Long.MaxValue || customerCount == Long.MaxValue
        || customerCount == 0L) Long.MaxValue
    else scala.util.Try(Math.multiplyExact(lineitemCount,
      math.max(1L, lineitemCount / customerCount)))
      .getOrElse(Long.MaxValue - 1)

  /** Kernel reduce-exchange partition count: ~16M packed longs
    * (~128 MB decoded) per task slice at any scale, floored at the
    * session default and clamped at 1024 (the upper clamp first binds
    * around 16.4G directed pairs ≈ a ~sf63 corpus of this shape —
    * past it, slices grow beyond 128 MB by design rather than fan the
    * exchange out without bound). The sentinel takes the upper clamp:
    * on the REDUCE side oversplitting is safe and a decoded-slice OOM
    * is not. Law pinned in ItemItemSpec. */
  private[graft] def pairPartitions(defaultP: Int, lineitemCount: Long,
                                    customerCount: Long): Int =
    math.max(defaultP, math.min(1024L,
      pairsEstimate(lineitemCount, customerCount) / 16000000L).toInt)

  /** Map-side (pair-EMIT) partition NEED, same estimate but budgeted
    * at ~32M pairs per map task: the emit task buffers Θ(pairs/task)
    * (chunk buffers now, the raw-row shuffle sorter before round 17),
    * and the measured zero-spill regime ended between 82M (sf10,
    * clean, 30g heap) and 164M (sf20, 139 GB mem-spill, 40g) pairs
    * per task — 32M is the measured sweet spot: sf20 measured 303 s
    * at 32 tasks, 162.6 s at 150 (this budget), 184.5 s at 300 (finer
    * splits just add task overhead). UNfloored (unlike
    * pairPartitions): the caller widens only when this need exceeds
    * the source's ACTUAL partition count, so gate-scale and
    * AQE-coalesced tiny corpora never pay the exchange.
    *
    * Sentinel posture (round-16 advice): the sentinel is NOT a
    * measurement, so it must never convert the guard-PROVEN
    * no-exchange fast path into a 1024-wide shuffle on a corpus that
    * may be tiny — with `userLocal` the need is 0 (no widening; a
    * genuinely huge corpus with failed probes degrades to the
    * bounded-spill behavior the sf20 rehearsal measured, slow but
    * correct). When the guard already refused (`!userLocal`) the
    * exchange is paid regardless, so the width is capped at a small
    * multiple of the session default instead of the 1024 clamp,
    * which stays reduce-side-only. A zero-lineitem corpus with live
    * customers estimates 0 and never widens. Law pinned in
    * ItemItemSpec. */
  private[graft] def emitPartitions(pairsEst: Long, userLocal: Boolean,
                                    defaultP: Int): Int =
    if (pairsEst == Long.MaxValue) {
      if (userLocal) 0 else math.min(1024, 4 * math.max(1, defaultP))
    } else math.min(1024L, pairsEst / 32000000L).toInt

  /** The shuffle-plan form — kept verbatim for catalogs past the
    * driver ceiling or ids the packed-long kernel can't represent. */
  private def legacyNeighbors(t: Tables, capped: DataFrame, ni: DataFrame,
                              k: Int, niBroadcastLimit: Long,
                              partCount: Long): DataFrame = {
    // aggregate CANONICAL pairs only (a<b) — cosine is symmetric, so
    // mirroring the aggregated relation afterwards costs O(distinct
    // pairs) while halving the Σ d(u)² rows in the dominant shuffle.
    // The denominators n_i deliberately do NOT ride that shuffle:
    // grouping on bare (item, neighbor) keeps the pair rows two
    // longs wide (~45% less shuffle volume than carrying both
    // counts), and ni joins onto the aggregated CANONICAL pair frame
    // below instead — broadcast at catalog sizes, a sort-free
    // hash-join exchange of the O(distinct pairs)/2 side past the
    // broadcast ceiling, either way off the dominant Σ d(u)² path.
    // Every non-broadcast join is hinted sort-free: the frames (fact
    // join, ui, pairs) are all large-and-flat, so each SMJ sort here
    // is a full-frame spill for no merge benefit — the two full SORTS
    // of the O(distinct pairs) frame (not the joins) were the first
    // thing to exhaust executor spill space in the 100× rehearsal.
    val half = capped.select(col("user"), col("item")).hint("shuffle_hash")
      .join(capped.select(col("user"), col("item").as("neighbor")),
        Seq("user"))
      .filter(col("item") < col("neighbor"))
      .groupBy(col("item"), col("neighbor"))
      .agg(count(lit(1)).as("n_ab"))
    // dual-path denominator attach, the g_pagerank precedent: below
    // the bound the ni frame (≤ catalog rows; the part row count is
    // parquet-metadata-cheap) broadcasts — zero pair-side exchange;
    // past it an explicit broadcast would OOM the driver, so the
    // joins go shuffle-hash. The gate must be explicit because the
    // planner's STATIC estimate of ni (derived from the whole fact
    // join) is catalog-size-blind: at the 100× rehearsal it planned
    // sort-merge despite ni materializing at ~30 MB.
    // MissingTable (-1) and MaxValue are both "size unknown" here: this
    // path is reached with no trustworthy catalog count (the kernel's
    // limit+1 probe may have just DISQUALIFIED the catalog as huge),
    // so only a real 0 ≤ count ≤ limit may select the broadcast attach.
    val niSmall = partCount >= 0 && partCount <= niBroadcastLimit
    def attach(d: DataFrame): DataFrame =
      if (niSmall) broadcast(d) else d.hint("shuffle_hash")
    val halved = half
      .join(attach(ni.select(col("item"), col("n_i").as("n_a"))),
        Seq("item"))
      .join(attach(ni.select(col("item").as("neighbor"),
        col("n_i").as("n_b"))), Seq("neighbor"))
    val co = halved.unionByName(halved.select(
      col("neighbor").as("item"), col("item").as("neighbor"),
      col("n_ab"), col("n_b").as("n_a"), col("n_a").as("n_b")))
    val scored = co.withColumn("cosine",
      col("n_ab").cast("double") /
        sqrt((col("n_a") * col("n_b")).cast("double")))
    // top-k via the bounded-heap aggregate (topk_tagged carries n_ab
    // as payload): only k rows per item per partition reach the
    // exchange, vs a window sort over every scored pair — at catalog
    // scale that sort IS the query's cost. Ordering (cosine desc,
    // neighbor asc) matches the heap's total order exactly.
    scored.groupBy(col("item"))
      .agg(expr(s"topk_tagged(neighbor, cosine, n_ab, $k)").as("topk"))
      .select(col("item"), posexplode(col("topk")))
      .select(col("item"), (col("pos") + 1).as("rank"),
        col("col.item").as("neighbor"), col("col.payload").as("n_ab"),
        col("col.score").as("cosine"))
  }
}
