package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.Envelope
import graft.stream.StreamSync
import graft.table.{Merge, SnapshotLog}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`, or `--selftest --work <dir>`.
  * Prints one JSON result as the last stdout line. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, selftest: Boolean)

  /** Counts of operations attempted and failed, over the whole run. */
  final class Ops {
    val attempted = new AtomicLong(0); val failed = new AtomicLong(0)
    def check(what: String, ok: Boolean): Boolean = {
      attempted.incrementAndGet()
      if (!ok) { failed.incrementAndGet(); System.err.println(s"[perfbench] FAILED: $what") }
      ok
    }
    def guarded[T](what: String)(body: => T): Option[T] = {
      attempted.incrementAndGet()
      try Some(body)
      catch { case e: Exception =>
        failed.incrementAndGet()
        System.err.println(s"[perfbench] FAILED: $what: $e")
        None
      }
    }
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1",
      m.getOrElse("work", "perfbench-work"), argv.contains("--selftest"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val spark = graft.Sessions.local("4", "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    if (a.selftest) {
      val ok = try SelfTest.run(spark, a) finally spark.stop()
      println(s"""{"selftest": $ok}""")
      if (!ok) sys.exit(1)
      return
    }
    val ops = new Ops
    val tracer = if (a.trace) new Recording(spark) else new Tracer
    val run = new Workloads(spark, a, ops, tracer)
    val metrics: Seq[(String, Double, String)] =
      try a.workload match {
        case "cdc_ingest" => run.cdcIngest()
        case "masked_read" => run.maskedRead()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      catch { case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
      }
    tracer match {
      case r: Recording => r.stop(); r.write(s"${a.work}/spans.jsonl")
      case _ => ()
    }
    spark.stop()
    val failed = ops.failed.get
    val body = metrics.map { case (k, v, u) =>
      "\"" + k + "\": {\"value\": " + fmt(v) + ", \"unit\": \"" + u + "\"}"
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${ops.attempted.get}, "failed": $failed, "metrics": {$body}}""")
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString
}

/** An upsert table fed from one topic directory through the public CDC
  * path: `wireStream` → `decodeKeyed` → `upsertSink`. */
final class CdcTable(spark: SparkSession, val root: String) {
  val topic = s"$root/topic"
  val warehouse = s"$root/wh"
  val dir = s"$warehouse/orders"
  val checkpoint = s"$root/chk"
  Files.createDirectories(Paths.get(topic))

  def stream(maxFiles: Option[Int]): DataFrame =
    Envelope.decodeKeyed(StreamSync.wireStream(spark, topic, maxFiles), "orders")
      .withColumn("order_key", get_json_object(col("kafka_key"), "$.order_id").cast("long"))

  /** One back-to-back apply call, as the reference's cron with no gap;
    * `inlineAt` turns on the sink's inline `materializeAtMasks`. */
  def apply(maxFiles: Option[Int] = None, inlineAt: Option[Int] = None): Unit =
    StreamSync.upsertSink(stream(maxFiles), dir, checkpoint, keyCol = "order_key",
      orderCol = "kafka_offset", deleteCol = Some("is_tombstone"), materializeAtMasks = inlineAt)

  /** file name → micro-batch id, from the stream checkpoint's source log. */
  def batchOfFile(): Map[String, Long] = {
    val re = """"path":"([^"]+)".*"batchId":(\d+)""".r
    val d = Paths.get(checkpoint, "sources", "0")
    if (!Files.exists(d)) return Map.empty
    Files.list(d).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => re.findFirstMatchIn(l).map(m =>
        m.group(1).substring(m.group(1).lastIndexOf('/') + 1) -> m.group(2).toLong))
      .toMap
  }

  def commits: Seq[SnapshotLog.Commit] = SnapshotLog.commits(spark, dir)
}

/** Open-loop generator thread: events fall due on a fixed schedule of
  * (rate, seconds) rungs and are written every tick whether or not the
  * engine keeps up. Between rungs it waits until the engine has committed
  * every event of the finished rung, so no rung's tail shares a batch with
  * the next rung's traffic. */
final class OpenLoop(gen: Gen, rungs: Seq[(Double, Double)], tickMs: Long = 50)
    extends Thread("perfbench-generator") {
  /** Offset of the next event to be written (the generated high-water mark). */
  val generated = new AtomicLong(0)
  /** Offset below which the engine has committed every event. */
  val committed = new AtomicLong(0)
  /** Per rung: wall-clock start ms, first offset, last offset + 1. */
  val rungLog = new java.util.concurrent.CopyOnWriteArrayList[(Double, Long, Long)]()
  val lateMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  @volatile var error: Throwable = null
  setDaemon(true)

  override def run(): Unit = try {
    generated.set(gen.nextOffset)
    rungs.zipWithIndex.foreach { case ((rate, secs), i) =>
      if (i > 0) {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (committed.get < gen.nextOffset && System.nanoTime() < deadline) Thread.sleep(tickMs)
      }
      val t0n = System.nanoTime(); val startMs = System.currentTimeMillis().toDouble
      val total = (rate * secs).toLong
      val first = gen.nextOffset
      var done = 0L
      while (done < total) {
        val due = math.min(total, ((System.nanoTime() - t0n) / 1e9 * rate).toLong)
        if (due > done) {
          val f = gen.emit((due - done).toInt, startMs + done / rate * 1000, 1000 / rate)
          lateMs.add(f.writtenMs - (startMs + (due - 1) / rate * 1000))
          done = due
          generated.set(gen.nextOffset)
        }
        if (done < total) Thread.sleep(tickMs)
      }
      rungLog.add((startMs, first, gen.nextOffset))
    }
  } catch { case e: Throwable => error = e }
}

/** Wall interval of one apply call and the generated offset at its start. */
final case class Call(startMs: Double, endMs: Double, generatedAtStart: Long)

/** One timed read: class, face, wall ms, key parameter, traced op id and
  * the query's execution. */
final case class ReadSample(cls: String, face: String, ms: Double, p: Long, op: Long,
                            execution: AnyRef)

/** Reads before and after maintenance, and the maintenance call itself. */
final case class ReadPhase(before: Seq[ReadSample], after: Seq[ReadSample],
                           maintainS: Double, aborted: Boolean, reads: Reads,
                           liveBefore: Seq[SnapshotLog.DataFile])

final class Workloads(spark: SparkSession, a: Main.Args, ops: Main.Ops, tracer: Tracer) {
  import Workloads._

  private val born = System.nanoTime()
  /** Progress line on stderr: seconds since the workload started. */
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $what")

  private val gcStart = gcMs()
  private val rnd = new java.util.SplittableRandom(a.seed ^ 0x5DEECE66DL)

  /** Set-up, done `SetupRepeats` times into fresh directories: write the
    * initial snapshot's envelopes (untimed) and bootstrap the table from
    * them through `upsertSink` (timed). The last table is the one the
    * workload runs on. Returns it, its generator and the median set-up
    * seconds. */
  private def setUp(name: String): (CdcTable, Gen, Double) = {
    val times = ArrayBuffer[Double]()
    var last: (CdcTable, Gen) = null
    for (i <- 1 to SetupRepeats) {
      val tbl = new CdcTable(spark, s"${a.work}/$name-$i")
      val gen = new Gen(a.seed, tbl.topic)
      gen.snapshot(BaseRows, 4)
      val t0 = System.nanoTime()
      tracer.span("stream.upsertSink")(tbl.apply())
      times += (System.nanoTime() - t0) / 1e9
      last = (tbl, gen)
      phase(f"set-up $i: ${times.last}%.2f s")
    }
    (last._1, last._2, Stats.median(times.toSeq))
  }

  private def readsFor(tbl: CdcTable): Reads = {
    val cat = "pb"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.connector.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tbl.warehouse)
    Reads.writeCustomers(spark, a.seed, s"${tbl.root}/customer")
    new Reads(spark, tbl.dir, s"$cat.orders", s"${tbl.root}/customer")
  }

  /** Back-to-back apply calls until `until` returns true. */
  private def applyLoop(tbl: CdcTable, gl: OpenLoop): ArrayBuffer[Call] = {
    val calls = ArrayBuffer[Call]()
    while (gl.isAlive) {
      val g = gl.generated.get
      val s = System.currentTimeMillis().toDouble
      // a call drains every file written before it started
      ops.guarded("upsertSink call") {
        tracer.span("stream.upsertSink")(tbl.apply())
      }.foreach(_ => gl.committed.set(g))
      calls += Call(s, System.currentTimeMillis().toDouble, g)
      if (tracer.enabled) tracer.span("log.filesAt")(SnapshotLog.filesAt(spark, tbl.dir))
    }
    calls
  }

  /** Freshness of every event in [lo, hi): commit time of the batch that
    * carried it minus the event's due time. */
  private def freshness(tbl: CdcTable, gen: Gen, lo: Long, hi: Long): Array[Double] = {
    val tsOfBatch = tbl.commits.flatMap(c => c.summary.get("batch_id").map(_.toLong -> c.tsMs)).toMap
    val batchOf = tbl.batchOfFile()
    val out = ArrayBuffer[Double]()
    gen.files.foreach { f =>
      if (f.firstOffset + f.count > lo && f.firstOffset < hi)
        for (ts <- batchOf.get(f.name).flatMap(tsOfBatch.get)) {
          var o = math.max(lo, f.firstOffset)
          while (o < math.min(hi, f.firstOffset + f.count)) { out += ts - gen.due(o); o += 1 }
        }
    }
    out.toArray
  }

  /** Per-key order across batches: no file lands in an earlier micro-batch
    * than a file written before it. */
  private def deliveryInOrder(tbl: CdcTable, gen: Gen): Boolean = {
    val b = tbl.batchOfFile()
    val seq = gen.files.flatMap(f => b.get(f.name))
    seq.size == gen.files.size && seq.zip(seq.drop(1)).forall { case (x, y) => x <= y }
  }

  /** The table equals the model: row count and order-insensitive checksum. */
  private def checkModel(reads: Reads, model: DataFrame): Unit =
    ops.guarded("model check") {
      val got = Reads.fingerprint(reads.table("catalog"))
      val want = Reads.fingerprint(model)
      if (got != want) throw new IllegalStateException(s"table $got != model $want")
    }

  /** Seeded key parameters the point and range reads cycle through. */
  private def paramPool(gen: Gen): Map[String, IndexedSeq[Long]] = Map(
    "point" -> IndexedSeq.fill(PoolSize)(1L + rnd.nextInt(gen.maxKey)),
    "range" -> IndexedSeq.fill(PoolSize)(1L + rnd.nextInt(math.max(1, gen.maxKey - Reads.RangeKeys.toInt))),
    "agg" -> IndexedSeq(0L), "join" -> IndexedSeq(0L))

  /** Expected rows of every (class, parameter) read, from the same queries
    * over the model's plain-parquet copy. */
  private def expectations(r: Reads, pool: Map[String, IndexedSeq[Long]],
                           model: DataFrame): Map[(String, Long), Seq[String]] =
    (for (c <- Reads.Classes; p <- pool(c)) yield (c, p) -> r.expected(c, p, model)).toMap

  /** One untimed read of each class through the catalog face, so timed
    * reads start with the JIT and plan caches warm. */
  private def warmUp(r: Reads, pool: Map[String, IndexedSeq[Long]]): Unit =
    Reads.Classes.foreach(c => ops.guarded(s"warm-up $c/catalog")(r.rows(c, "catalog", pool(c).head)))

  /** Closed-loop reads for `seconds`, in whole cycles. One cycle is the
    * four classes through the catalog face, then one class (rotating)
    * through the path face, so every run times the same 4:1 mix and the
    * median and 90th percentile fall inside the catalog and path groups,
    * not on the edge between them. Every read is checked against `expect`. */
  private def readLoop(r: Reads, pool: Map[String, IndexedSeq[Long]], seconds: Double,
                       expect: Map[(String, Long), Seq[String]]): ArrayBuffer[ReadSample] = {
    val out = ArrayBuffer[ReadSample]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i % CycleReads != 0 || System.nanoTime() < end) {
      val cycle = i / CycleReads
      val (cls, face) =
        if (i % CycleReads < 4) (Reads.Classes(i % CycleReads), "catalog")
        else (Reads.Classes(cycle % 4), "path")
      val ps = pool(cls)
      val p = ps((cycle + i) % ps.size)
      ops.guarded(s"read $cls/$face") {
        val t0 = System.nanoTime()
        val rows = tracer.span(s"read.$cls.$face")(r.rows(cls, face, p))
        val ms = (System.nanoTime() - t0) / 1e6
        if (rows != expect((cls, p)))
          throw new IllegalStateException(s"$cls/$face (p=$p) differs from the model")
        out += ReadSample(cls, face, ms, p, tracer.lastOp, r.lastExecution)
      }
      i += 1
    }
    out
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Bytes of every live file, data and masks, per live row. */
  private def liveBytesPerRow(tbl: CdcTable, gen: Gen): Double =
    SnapshotLog.filesAt(spark, tbl.dir).map(_.bytes).sum.toDouble / math.max(1, gen.nLive)

  private def q(xs: Iterable[Double], p: Double) = Stats.quantile(xs.toSeq, p)

  private def describe(rs: Seq[ReadSample]): String =
    rs.groupBy(r => s"${r.cls}/${r.face}").toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=${Stats.median(v.map(_.ms))}%.0f(${v.size})" }.mkString(" ")

  // --- workloads -----------------------------------------------------------

  /** The read phase both workloads end with: closed-loop reads over the
    * masked table, `materializeDeletes` timed from outside, reads over the
    * maintained table. Every read is checked against the model; the
    * full-table model check runs once, after maintenance. */
  private def readPhase(tbl: CdcTable, gen: Gen, preS: Double, postS: Double): ReadPhase = {
    val reads = readsFor(tbl)
    val model = Reads.writeModel(spark, gen.modelRows, s"${tbl.root}/model")
    phase("model written")
    val pool = paramPool(gen)
    val expect = expectations(reads, pool, model)
    phase("expectations")
    warmUp(reads, pool)
    System.gc()
    phase("model written, reads warm")
    val before = readLoop(reads, pool, preS, expect)
    phase(s"timed ${before.size} reads: ${describe(before.toSeq)}")
    val liveBefore = SnapshotLog.filesAt(spark, tbl.dir)
    val t0 = System.nanoTime()
    val maint = ops.guarded("materializeDeletes") {
      tracer.span("maint.materializeDeletes")(Merge.materializeDeletes(spark, tbl.dir))
    }
    val maintainS = (System.nanoTime() - t0) / 1e9
    ops.check("materializeDeletes committed", maint.exists(_.isDefined))
    phase(f"maintained in $maintainS%.2f s")
    val after = readLoop(reads, pool, postS, expect)
    phase(s"timed ${after.size} reads: ${describe(after.toSeq)}")
    checkModel(reads, model)
    ReadPhase(before.toSeq, after.toSeq, maintainS, maint.isEmpty, reads, liveBefore)
  }

  private def report(setupS: Double, fr: Array[Double], sustained: Double, bpr: Double,
                     rp: ReadPhase, layer: Seq[(String, Double, String)]): Seq[(String, Double, String)] =
    if (tracer.enabled) layer ++ overheadProbe(() => rp.reads.rows("agg", "catalog", 0))
    else Seq(
      ("setup_s", setupS, "s"),
      ("peak_rss_mb", peakRssMb, "MB"),
      ("freshness_p50_ms", q(fr, 0.5), "ms"),
      ("freshness_p99_ms", q(fr, 0.99), "ms"),
      ("sustained_events_per_s", sustained, "1/s"),
      ("bytes_per_live_row", bpr, "B"),
      ("read_p50_ms", q(rp.before.map(_.ms), 0.5), "ms"),
      ("read_p90_ms", q(rp.before.map(_.ms), 0.9), "ms"),
      // after maintenance the mix splits evenly into ~100 ms (point, range)
      // and ~350 ms (agg, join) reads, so a per-read median sits on the edge
      // between the two groups; the median over cycles of each cycle's
      // mean does not
      ("maintained_read_p50_ms",
        q(rp.after.grouped(CycleReads).map(c => c.map(_.ms).sum / c.size).toSeq, 0.5), "ms"),
      ("maintain_s", rp.maintainS, "s"))

  /** Events committed per second of apply-call wall time, over `calls`. */
  private def appliedRate(hw: Seq[(Double, Long, Long)], calls: Seq[Call]): Double =
    calls.map(c => hw.filter(h => h._1 >= c.startMs && h._1 <= c.endMs).map(_._3).sum).sum *
      1000.0 / math.max(1.0, calls.map(c => c.endMs - c.startMs).sum)

  def cdcIngest(): Seq[(String, Double, String)] = {
    val (tbl, gen, setupS) = setUp("cdc_ingest")
    val ingestS = a.seconds * IngestShare
    val rungs = Seq((ReferenceRate, ingestS * ReferenceShare), (OverloadRate, ingestS * (1 - ReferenceShare)))
    // one untimed delta first, so the window's first calls do not pay the
    // merge path's class loading and JIT
    gen.emit(WarmEvents, System.currentTimeMillis().toDouble, 0)
    ops.guarded("warm-up apply")(tbl.apply())
    val gl = new OpenLoop(gen, rungs)
    val firstCommit = tbl.commits.size
    System.gc() // a clean heap at the window's start, in every run
    gl.start()
    val calls = applyLoop(tbl, gl)
    if (gl.error != null) throw gl.error
    // drain the backlog the overload rung built
    val d0 = System.currentTimeMillis().toDouble
    ops.guarded("final drain")(tracer.span("stream.upsertSink")(tbl.apply()))
    val drain = Call(d0, System.currentTimeMillis().toDouble, gl.generated.get)
    ops.check("delivery kept per-key order", deliveryInOrder(tbl, gen))
    val (_, rlo, rhi) = gl.rungLog.get(0)
    val fr = freshness(tbl, gen, rlo, rhi)
    ops.check("every reference-rung event committed", fr.length == rhi - rlo)
    // past the knee the backlog grows; what the loop commits per second of
    // its own wall time, from the overload rung until the backlog is gone,
    // is the most it holds
    val hw = highWater(tbl, gen)
    val over = calls.filter(_.startMs >= gl.rungLog.get(1)._1) :+ drain
    val sustained = appliedRate(hw, over.toSeq)
    phase("calls ms: " + (calls :+ drain).map(c => f"${c.endMs - c.startMs}%.0f").mkString(","))
    val bpr = liveBytesPerRow(tbl, gen)
    val rp = readPhase(tbl, gen, a.seconds * IngestReadShares._1, a.seconds * IngestReadShares._2)
    val layer = if (tracer.enabled)
      perLayer(tbl, gen, (calls :+ drain).toSeq, firstCommit, rp, Some(gl)) ++
        inlineProbe(tbl, gen, rp.reads)
    else Nil
    report(setupS, fr, sustained, bpr, rp, layer)
  }

  /** Traced runs only, after the read phase: one more delta applied with
    * the sink's inline maintenance on (`materializeAtMasks` at one pending
    * mask entry), so the call folds its own masks back into the data. The
    * table must still equal the model afterwards. */
  private def inlineProbe(tbl: CdcTable, gen: Gen, reads: Reads): Seq[(String, Double, String)] = {
    gen.emit(DeltaEvents, System.currentTimeMillis().toDouble, 0)
    val before = tbl.commits.size
    val t0 = System.nanoTime()
    ops.guarded("upsertSink call with inline maintenance")(
      tracer.span("maint.inline")(tbl.apply(inlineAt = Some(1))))
    val ms = (System.nanoTime() - t0) / 1e6
    val replaces = tbl.commits.drop(before).filter(_.op == "replace")
    ops.check("inline maintenance committed", replaces.nonEmpty)
    checkModel(reads, Reads.writeModel(spark, gen.modelRows, s"${tbl.root}/model-inline"))
    Seq(("maint.inline_ms", ms, "ms"), ("maint.inline_runs", replaces.size.toDouble, "count"))
  }

  def maskedRead(): Seq[(String, Double, String)] = {
    val (tbl, gen, setupS) = setUp("masked_read")
    // masks through the same apply path: seeded delta batches written as a
    // backlog, then drained as one micro-batch and one rowdelta commit
    // each; freshness and rate here are those of a backlog drain
    val now = System.currentTimeMillis().toDouble
    val lo = gen.nextOffset
    (0 until DeltaBatches).foreach(_ => gen.emit(DeltaEvents, now, 0))
    val firstCommit = tbl.commits.size
    val d0 = System.currentTimeMillis().toDouble
    tracer.span("stream.upsertSink")(tbl.apply(maxFiles = Some(1)))
    val drain = Call(d0, System.currentTimeMillis().toDouble, gen.nextOffset)
    if (tracer.enabled) tracer.span("log.filesAt")(SnapshotLog.filesAt(spark, tbl.dir))
    val fr = freshness(tbl, gen, lo, gen.nextOffset)
    ops.check("every delta event committed", fr.length == gen.nextOffset - lo)
    val sustained = appliedRate(highWater(tbl, gen), Seq(drain))
    val bpr = liveBytesPerRow(tbl, gen)
    phase("masked table ready")
    val rp = readPhase(tbl, gen, a.seconds * MaskedReadShares._1, a.seconds * MaskedReadShares._2)
    val layer = if (tracer.enabled)
      perLayer(tbl, gen, Seq(drain), firstCommit, rp, None) ++ inlineProbe(tbl, gen, rp.reads)
    else Nil
    report(setupS, fr, sustained, bpr, rp, layer)
  }

  // --- freshness / throughput helpers ---------------------------------------

  /** (commit ms, offset high-water mark, events) per data commit. */
  private def highWater(tbl: CdcTable, gen: Gen): Seq[(Double, Long, Long)] = {
    val batchOf = tbl.batchOfFile()
    val byBatch = gen.files.groupBy(f => batchOf.getOrElse(f.name, -1L))
    tbl.commits.flatMap { c =>
      c.summary.get("batch_id").map(_.toLong).flatMap(byBatch.get).map { fs =>
        (c.tsMs.toDouble, fs.map(f => f.firstOffset + f.count).max, fs.map(_.count.toLong).sum)
      }
    }
  }
  private def committedBy(hw: Seq[(Double, Long, Long)], t: Double): Long =
    hw.filter(_._1 <= t).map(_._2).foldLeft(0L)(math.max)

  // --- traced run ------------------------------------------------------------

  /** Tracing overhead on the workload's core operation: `ProbeRounds`
    * pairs, listeners attached for one and detached for the other,
    * alternating which goes first. */
  private def overheadProbe(op: () => Unit): Seq[(String, Double, String)] = {
    val rec = tracer.asInstanceOf[Recording]
    val on, off = ArrayBuffer[Double]()
    def timeOnce(traced: Boolean): Unit = {
      if (traced) rec.start() else rec.stop()
      val t0 = System.nanoTime()
      ops.guarded("overhead probe")(if (traced) rec.span("trace.probe")(op()) else op())
      (if (traced) on else off) += (System.nanoTime() - t0) / 1e6
    }
    rec.stop()
    for (i <- 0 until ProbeRounds) {
      val first = i % 2 == 0
      timeOnce(first); timeOnce(!first)
    }
    rec.start()
    val (mOn, mOff) = (Stats.median(on.toSeq), Stats.median(off.toSeq))
    Seq(("trace.overhead_ms", mOn - mOff, "ms"),
      ("trace.overhead_pct", 100 * (mOn - mOff) / math.max(1e-9, mOff), "%"))
  }

  private def perLayer(tbl: CdcTable, gen: Gen, calls: Seq[Call], firstCommit: Int,
                       rp: ReadPhase, gl: Option[OpenLoop]): Seq[(String, Double, String)] = {
    val rec = tracer.asInstanceOf[Recording]
    val readsDone = rp.before
    val spans = rec.spans.asScala.toSeq
    val commits = tbl.commits.drop(firstCommit)
    val rowdeltas = commits.filter(_.op == "rowdelta")
    def sumOf(k: String) = rowdeltas.flatMap(_.summary.get(k)).map(_.toDouble).sum
    // the calls of the measured window (the set-up's bootstrap calls excluded)
    val applySpans = spans.filter(s => s.name == "stream.upsertSink" &&
      (calls.isEmpty || calls.exists(c => math.abs(c.startMs - s.startMs) < 50)))
    val perCall = applySpans.map(s => s -> rec.triggersIn(s))
    val prog = perCall.flatMap(_._2)
    def dur(k: String) = Stats.median(prog.map(_._1.getOrElse(k, 0L).toDouble))
    val overheads = perCall.map { case (s, ts) =>
      (s.endMs - s.startMs) - ts.map(_._1.getOrElse("triggerExecution", 0L)).sum }
    val live = rp.liveBefore
    val masks = live.filter(SnapshotLog.isMask)
    val gaps = commits.map(_.tsMs.toDouble).sliding(2).collect { case Seq(x, y) => y - x }.toSeq
    val firstId = commits.headOption.map(_.snapshotId).getOrElse(Long.MaxValue)
    val checkpoints = Files.list(Paths.get(tbl.dir, "_graft_log")).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains(".checkpoint"))
      .flatMap(n => scala.util.Try(n.takeWhile(_ != '.').toLong).toOption)
      .count(_ >= firstId)
    val replaces = commits.filter(c => c.op == "replace" && c.summary.contains("materialized_deletes"))
    // reads: scan shapes of the queries each read ran
    val readSpans = spans.filter(_.name.startsWith("read.")).map(s => s.op -> s).toMap
    val readScans = readsDone.map(r => r -> readSpans.get(r.op).map(rec.queriesOf(_, Seq(r.execution))).getOrElse(Nil))
    val allScans = readScans.flatMap(_._2)
    val dataFiles = live.filter(_.kind == "data")
    def keyZone(f: SnapshotLog.DataFile) = f.stats.get("order_key")
      .orElse(for (lo <- f.statsMin; hi <- f.statsMax) yield (lo, hi))
    def useful(r: ReadSample): Long = r.cls match {
      case "point" | "range" =>
        val hi = if (r.cls == "point") r.p else r.p + Reads.RangeKeys - 1
        dataFiles.count(f => keyZone(f).forall { case (a, b) => a <= hi && b >= r.p }).toLong
      case _ => dataFiles.size.toLong
    }
    val counted = readScans.filter(_._2.map(_.filesRead).sum > 0)
    val filesReadSum = counted.map(_._2.map(_.filesRead).sum).sum
    val usefulRatio = if (filesReadSum == 0) 1.0
      else counted.map { case (r, ss) => math.min(useful(r), ss.map(_.filesRead).sum) }.sum.toDouble / filesReadSum
    val readInput = readsDone.flatMap(r => Option(rec.totals.get(r.op))).map(_.inputBytes.toDouble)
    val allTotals = rec.totals.values.asScala.toSeq
    val jobsByOp = spans.filter(_.name == "spark.job").groupBy(_.op)
    val driverMs = spans.filter(s => s.parent == 0L && !s.name.startsWith("spark.")).map { s =>
      val busy = jobsByOp.getOrElse(s.op, Nil).map(j => (j.startMs, j.endMs)).sortBy(_._1)
        .foldLeft((0.0, Double.MinValue)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b) }._1
      (s.endMs - s.startMs) - busy
    }
    val byPair = readsDone.groupBy(r => (r.cls, r.face))
    // cdc decode of this run's change files, as one batch read
    val changeFiles = gen.files.filter(_.firstOffset >= BaseRows)
    val changeEvents = changeFiles.map(_.count.toLong).sum
    val (decodeMs, malformed) =
      if (changeFiles.isEmpty) (0.0, 0L)
      else {
        val wire = spark.read.schema(graft.schema.Schemas.wireJson)
          .json(changeFiles.map(f => s"${tbl.topic}/${f.name}").toSeq: _*)
          .select(col("key").cast("binary").as("key"), col("value").cast("binary").as("value"),
            col("topic"), col("partition"), col("offset"), col("timestamp"))
        val dec = Envelope.decodeKeyed(wire, "orders")
        val t0 = System.nanoTime()
        tracer.span("cdc.decode")(dec.write.format("noop").mode("overwrite").save())
        val ms = (System.nanoTime() - t0) / 1e6
        (ms, dec.filter(!col("is_tombstone") && col("order_id").isNull).count())
      }
    val hw = highWater(tbl, gen)
    val m = Seq[(String, Double, String)](
      ("cdc.records", prog.map(_._2.toDouble).sum, "count"),
      ("cdc.tombstone_share", gen.tombstones.toDouble / math.max(1L, gen.events), "ratio"),
      ("cdc.malformed_share", malformed.toDouble / math.max(1L, changeEvents), "ratio"),
      ("cdc.decode_ms", decodeMs, "ms"),
      ("stream.call_ms", Stats.median(applySpans.map(s => s.endMs - s.startMs)), "ms"),
      ("stream.overhead_ms", Stats.median(overheads), "ms"),
      ("stream.add_batch_ms", dur("addBatch"), "ms"),
      ("stream.wal_commit_ms", dur("walCommit"), "ms"),
      ("stream.query_planning_ms", dur("queryPlanning"), "ms"),
      ("stream.get_batch_ms", dur("getBatch"), "ms"),
      ("stream.latest_offset_ms", dur("latestOffset"), "ms"),
      ("stream.rows_per_batch", Stats.median(prog.map(_._2.toDouble)), "count"),
      ("stream.backlog_events", Stats.median(calls.map(c =>
        (c.generatedAtStart - committedBy(hw, c.startMs)).toDouble)), "count"),
      ("merge.delta_keys", sumOf("delta_keys"), "count"),
      ("merge.delete_entries", sumOf("delete_entries"), "count"),
      ("merge.insert_only_keys", sumOf("insert_only_keys"), "count"),
      ("merge.mask_ratio", sumOf("delete_entries") / math.max(1.0, sumOf("delta_keys")), "ratio"),
      ("merge.files_added", rowdeltas.map(_.added.size.toDouble).sum, "count"),
      ("merge.bytes_written", rowdeltas.flatMap(_.added).map(_.bytes.toDouble).sum, "B"),
      ("log.commits", commits.size.toDouble, "count"),
      ("log.commit_gap_ms", Stats.median(gaps), "ms"),
      ("log.checkpoints", checkpoints.toDouble, "count"),
      ("log.rebases", commits.count(_.summary.contains("rebased_from")).toDouble, "count"),
      ("log.files_live", live.size.toDouble, "count"),
      ("log.mask_files_live", masks.size.toDouble, "count"),
      ("log.mask_rows_live", masks.map(_.rows.toDouble).sum, "count"),
      ("log.resolve_ms", Stats.median(spans.filter(_.name == "log.filesAt").map(s => s.endMs - s.startMs)), "ms"),
      ("scan.files_considered", if (readsDone.isEmpty) 0.0 else dataFiles.size.toDouble, "count"),
      ("scan.files_read", Stats.median(readScans.map(_._2.map(_.filesRead.toDouble).sum)), "count"),
      ("scan.useful_file_ratio", usefulRatio, "ratio"),
      ("scan.rows_read", Stats.median(readScans.map(_._2.map(_.rowsRead.toDouble).sum)), "count"),
      ("scan.rows_masked", Stats.median(readScans.map(_._2.map(_.rowsMasked.toDouble).sum)), "count"),
      ("scan.bytes_read", Stats.median(readInput), "B"),
      ("scan.planning_ms", Stats.median(allScans.map(_.planningMs)), "ms"),
      ("scan.bridged_share", allScans.map(_.bridged).sum.toDouble /
        math.max(1, allScans.map(s => s.bridged + s.vectorized).sum), "ratio"),
      ("maint.runs", replaces.size.toDouble, "count"),
      ("maint.ms", rp.maintainS * 1000, "ms"),
      ("maint.bytes_rewritten", replaces.flatMap(_.added).map(_.bytes.toDouble).sum, "B"),
      ("maint.files_removed", replaces.map(_.removed.size.toDouble).sum, "count"),
      ("maint.aborts", if (rp.aborted) 1.0 else 0.0, "count"),
      ("spark.jobs", allTotals.map(_.jobs.toDouble).sum, "count"),
      ("spark.stages", allTotals.map(_.stages.toDouble).sum, "count"),
      ("spark.tasks", allTotals.map(_.tasks.toDouble).sum, "count"),
      ("spark.executor_run_ms", allTotals.map(_.runMs.toDouble).sum, "ms"),
      ("spark.driver_ms", Stats.median(driverMs), "ms"),
      ("spark.shuffle_write_bytes", allTotals.map(_.shuffleWrite.toDouble).sum, "B"),
      ("spark.shuffle_read_bytes", allTotals.map(_.shuffleRead.toDouble).sum, "B"),
      ("spark.spill_bytes", allTotals.map(_.spill.toDouble).sum, "B"),
      ("spark.task_skew", Stats.median(allTotals.flatMap(_.skews)), "ratio"),
      ("jvm.gc_ms", gcMs() - gcStart, "ms"),
      ("gen.late_p99_ms", gl.map(g => Stats.quantile(g.lateMs.asScala.toSeq, 0.99)).getOrElse(0.0), "ms"),
      ("trace.spans", spans.size.toDouble, "count")) ++
      (for (c <- Reads.Classes; f <- Reads.Faces) yield
        (s"read.$c.${f}_p50_ms", Stats.median(byPair.getOrElse((c, f), Nil).map(_.ms)), "ms"))
    m.map { case (k, v, u) => (k, if (v.isNaN) 0.0 else v, u) }
  }
}

object Workloads {
  val SetupRepeats = 3
  /** Initial snapshot size (orders) and the delta batches masked_read
    * applies on top: 8 batches of 15.3 % of the table each. */
  val BaseRows = 50000
  val DeltaBatches = 8
  val DeltaEvents = 7650
  /** cdc_ingest's rungs: freshness is reported at the reference rate, the
    * sustained rate is measured on the overload rung after it. */
  val ReferenceRate = 8000.0
  val OverloadRate = 64000.0
  /** Share of the ingest window spent on the reference rung. */
  val ReferenceShare = 0.7
  /** Shares of the run's seconds: cdc_ingest's ingest window, and each
    * workload's read windows before and after maintenance. A read window
    * ends with the cycle in which it runs out, so it holds whole cycles.
    * At 16 s: a cycle over cdc_ingest's masks takes ~4.5 s (the path-face
    * read alone ~3 s), so its 3.2 s window holds one cycle; one over
    * masked_read's 8 masks takes ~3.7 s, and its 9.1 s window holds three
    * while the cycle takes 3.0-4.5 s. After maintenance a cycle takes ~1.1 s,
    * and the 2.7 s windows hold three. */
  val IngestShare = 0.6
  val IngestReadShares = (0.2, 0.17)
  val MaskedReadShares = (0.57, 0.17)
  /** Events in cdc_ingest's untimed warm-up delta. */
  val WarmEvents = 4000
  /** Point and range keys per run. */
  val PoolSize = 2
  /** Reads in one read cycle: the four classes through the catalog face,
    * then one through the path face. */
  val CycleReads = 5
  /** Tracing-overhead probe rounds. */
  val ProbeRounds = 4

  def gcMs(): Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.toDouble).sum
}
