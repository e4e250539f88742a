package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval at a layer boundary. Spans of one benchmark
  * operation share `op`; `parent` is the span that caused this one. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startMs: Double, endMs: Double)

/** Tracing switched off: spans cost one by-name call. Timed runs use this. */
class Tracer {
  def span[T](name: String)(body: => T): T = body
  def enabled: Boolean = false
  /** Operation id of the last top-level span this thread closed. */
  def lastOp: Long = 0L
}

/** What one executed SQL query read, taken from its physical plan. `qe`
  * is the query's own execution, which the benchmark matches to the read
  * that ran it. */
final case class ScanRecord(qe: QueryExecution, durationMs: Double, planningMs: Double,
                            rowsRead: Long, rowsMasked: Long, filesRead: Long,
                            bridged: Int, vectorized: Int)

/** Stage totals, attributed to the span that submitted the stage's job. */
final class StageTotals {
  var jobs, stages, tasks = 0L
  var runMs, shuffleWrite, shuffleRead, spill, inputBytes = 0L
  val skews = mutable.ArrayBuffer[Double]()
}

/** Tracing on: spans around every benchmark call into the engine, plus
  * child spans and counters from a SparkListener, a QueryExecutionListener
  * and a StreamingQueryListener. Everything stays in memory until
  * [[write]]. Nothing inside the engine is instrumented. */
final class Recording(spark: SparkSession) extends Tracer {
  override def enabled: Boolean = true
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] { override def initialValue = (0L, 0L) }
  private val PropSpan = "perfbench.span"
  /** Jobs that carry no span property attach to the apply call in flight,
    * of which there is at most one. */
  @volatile var applySpan: (Long, Long) = (0L, 0L)
  private val lastTop = new ThreadLocal[Long] { override def initialValue = 0L }
  override def lastOp: Long = lastTop.get
  private val t0Nanos = System.nanoTime(); private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  override def span[T](name: String)(body: => T): T = {
    val (parent, parentOp) = current.get
    val id = ids.incrementAndGet()
    val op = if (parent == 0L) id else parentOp
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(PropSpan)
    current.set((id, op)); sc.setLocalProperty(PropSpan, s"$id:$op")
    val isApply = name == "stream.upsertSink"
    if (isApply) applySpan = (id, op)
    val s = nowMs
    try body
    finally {
      spans.add(Span(id, parent, op, name, s, nowMs))
      current.set((parent, parentOp)); sc.setLocalProperty(PropSpan, prevProp)
      if (isApply) applySpan = (0L, 0L)
      if (parent == 0L) lastTop.set(op)
    }
  }

  private def owner(props: java.util.Properties): (Long, Long) =
    Option(props).flatMap(p => Option(p.getProperty(PropSpan))).map { s =>
      val Array(a, b) = s.split(":"); (a.toLong, b.toLong)
    }.getOrElse(applySpan)

  // --- SparkListener: jobs, stages, tasks -------------------------------
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, (Long, Long))]()
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  /** Totals per owning operation id. */
  val totals = new java.util.concurrent.ConcurrentHashMap[Long, StageTotals]()
  private def tot(op: Long) = totals.computeIfAbsent(op, _ => new StageTotals)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val o = owner(e.properties)
      jobStart.put(e.jobId, (nowMs, o))
      e.stageIds.foreach(stageOwner.put(_, o))
      tot(o._2).synchronized { tot(o._2).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, (p, op)) =>
        val end = nowMs
        spans.add(Span(ids.incrementAndGet(), p, op, "spark.job", s, end))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
          .add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val (p, op) = Option(stageOwner.get(info.stageId)).getOrElse(applySpan)
      val end = info.completionTime.map(_.toDouble).getOrElse(nowMs)
      val start = info.submissionTime.map(_.toDouble).getOrElse(end)
      spans.add(Span(ids.incrementAndGet(), p, op, "spark.stage", start, end))
      val durs = Option(taskMs.remove(info.stageId)).map(_.asScala.toSeq.sorted).getOrElse(Nil)
      val t = tot(op)
      t.synchronized {
        t.stages += 1; t.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          t.runMs += m.executorRunTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.inputBytes += m.inputMetrics.bytesRead
        }
        if (durs.size >= 2) {
          val med = Stats.quantile(durs.map(_.toDouble), 0.5)
          t.skews += durs.last / math.max(1.0, med)
        }
      }
    }
  }

  // --- QueryExecutionListener: scan shape of every executed query -------
  val scans = new ConcurrentLinkedQueue[ScanRecord]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      scans.add(Recording.scanRecord(qe, durationNs / 1e6))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  // --- StreamingQueryListener: per-trigger durations ---------------------
  /** (trigger start ms, end ms, durationMs by phase, input rows). Triggers
    * are delivered after the fact, so [[triggersIn]] attributes them to
    * apply calls by time. */
  val progress = new ConcurrentLinkedQueue[(Double, Double, Map[String, Long], Long)]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      progress.add((start, start + d.getOrElse("triggerExecution", 0L), d, p.numInputRows))
    }
  }

  /** Triggers that started inside `s`, recorded as its child spans. */
  def triggersIn(s: Span): Seq[(Map[String, Long], Long)] =
    progress.asScala.toSeq.filter(p => p._1 >= s.startMs - 1 && p._1 <= s.endMs).map { p =>
      spans.add(Span(ids.incrementAndGet(), s.id, s.op, "stream.trigger", p._1, p._2))
      (p._3, p._4)
    }

  /** Attach the listeners; [[stop]] detaches them. */
  @volatile private var attached = false
  def start(): Unit = if (!attached) {
    attached = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }
  start()

  /** The queries `s` ran, recorded as its child spans: one per query and
    * one per planning phase. */
  def queriesOf(s: Span, qes: Seq[AnyRef]): Seq[ScanRecord] = {
    val mine = scans.asScala.toSeq.filter(r => qes.exists(_ eq r.qe))
    mine.foreach { r =>
      val phases = r.qe.tracker.phases
      val start = if (phases.isEmpty) s.startMs else phases.values.map(_.startTimeMs).min.toDouble
      val q = ids.incrementAndGet()
      spans.add(Span(q, s.id, s.op, "sql.query", start, start + r.durationMs))
      phases.foreach { case (name, p) =>
        spans.add(Span(ids.incrementAndGet(), q, s.op, s"sql.$name", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
    mine
  }

  def stop(): Unit = if (attached) {
    attached = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Write every span as one JSON line. */
  def write(path: String): Unit = {
    val sb = new StringBuilder
    spans.asScala.toSeq.sortBy(_.startMs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f"""\"start_ms\":${s.startMs}%.3f,\"end_ms\":${s.endMs}%.3f}""").append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Recording {
  private val FilesRe = """GraftBatchScan\(files=(\d+)""".r
  private val MaskedRowsRe = """maskedRows=(\d+)""".r
  private val EqKeysRe = """eqKeys=(\d+)""".r

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case other if other.children.isEmpty => Seq(other) ++ other.subqueries.flatMap(leaves)
    case other => other.children.flatMap(leaves) ++ other.subqueries.flatMap(leaves)
  }

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  /** Classify the plan's leaf scans: a V2 graft batch scan and a file
    * scan run vectorized; a row-source or RDD scan is the row bridge.
    * Scans of pending delete masks (their output holds the mask sequence
    * column) are not counted as data reads. */
  def scanRecord(qe: QueryExecution, durationMs: Double): ScanRecord = {
    val planning = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    var rows, masked, files = 0L
    var bridged, vectorized = 0
    leaves(qe.executedPlan).foreach { leaf =>
      val isMask = leaf.output.exists(_.name == "_graft_del_seq")
      val desc = leaf.simpleString(400)
      val name = leaf.nodeName
      if (!isMask && name.contains("Scan")) {
        rows += metric(leaf, "numOutputRows")
        if (name.startsWith("BatchScan")) {
          vectorized += 1
          FilesRe.findFirstMatchIn(desc).foreach(m => files += m.group(1).toLong)
          MaskedRowsRe.findFirstMatchIn(desc).foreach(m => masked += m.group(1).toLong)
          EqKeysRe.findFirstMatchIn(desc).foreach(m => masked += m.group(1).toLong)
        } else if (name.contains("ExistingRDD") || leaf.getClass.getSimpleName.startsWith("RowDataSource") ||
                   leaf.getClass.getSimpleName.startsWith("RDDScan")) {
          bridged += 1
        } else {
          vectorized += 1
          files += metric(leaf, "numFiles")
        }
      }
    }
    ScanRecord(qe, durationMs, planning, rows, masked, files, bridged, vectorized)
  }
}
