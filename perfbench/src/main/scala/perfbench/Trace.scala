package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** One timed span: a layer call, nested under `parent` (-1 at top). */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, cycle: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-stage task statistics, folded at stage completion. */
final case class StageAgg(tasks: Int, maxMs: Long, medianMs: Long)

/** Spark-side counters, attributed to the span that was open on the
  * driver when each job started (the `perfbench.span` local property).
  * Only jobs started while tracing is on are counted. Task times are
  * kept per RUNNING stage only and folded into a [[StageAgg]] when the
  * stage completes, so memory stays bounded by the live stages. */
final class SparkCounters extends SparkListener {
  val SpanProp = "perfbench.span"
  final class Acc {
    var jobs, stages, tasks = 0L
    var taskMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  }
  val bySpan = mutable.Map.empty[String, Acc]
  val stageAggs = mutable.ArrayBuffer.empty[StageAgg]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val running = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def acc(span: String) = bySpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
    span.foreach { s =>
      acc(s).jobs += 1
      e.stageIds.foreach(id => stageSpan(id) = s)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSpan.get(id).foreach { s =>
      acc(s).stages += 1
      running(id) = mutable.ArrayBuffer.empty[Long]
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val a = acc(s)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        running.get(e.stageId).foreach(_ += m.executorRunTime)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    running.remove(id).foreach { ts =>
      if (ts.nonEmpty) {
        val s = ts.sorted
        stageAggs += StageAgg(s.size, s.last, s((s.size - 1) / 2))
      }
    }
    stageSpan.remove(id)
  }

  /** Sum over the spans `keep` selects. */
  def total(keep: String => Boolean = _ => true): Acc = synchronized {
    val t = new Acc
    bySpan.collect { case (s, a) if keep(s) => a }.foreach { a =>
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.taskMs += a.taskMs; t.gcMs += a.gcMs; t.shuffleWrite += a.shuffleWrite
      t.shuffleRead += a.shuffleRead; t.spill += a.spill
    }
    t
  }

  /** Worst stage's max/median task time, over stages with >= 2 tasks. */
  def taskSkew: Double = synchronized {
    val xs = stageAggs.filter(a => a.tasks >= 2 && a.medianMs > 0)
      .map(a => a.maxMs.toDouble / a.medianMs)
    if (xs.isEmpty) 1.0 else xs.max
  }
}

/** Hadoop `file:` filesystem byte counters, read as deltas. (The local
  * filesystem keeps no operation counts.) */
object FsStats {
  final case class Snap(bytesRead: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
    def +(o: Snap): Snap = Snap(bytesRead + o.bytesRead, bytesWritten + o.bytesWritten)
  }
  val Zero: Snap = Snap(0, 0)
  def now(): Snap = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Snap(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** JVM-wide GC and JIT counters. */
object JvmStats {
  import java.lang.management.ManagementFactory
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** Peak heap in MiB since the last reset: the sum of the heap pools'
    * peaks (an upper bound of the true simultaneous peak). */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Span recorder. When off, `span` only runs the body: no timing, no
  * local property, no record, and `barrier` returns its frame unchanged.
  * When on, each span sets the `perfbench.span` local property so the
  * listener attributes the jobs it starts, and records its
  * filesystem-counter delta. Spans stay in memory and are written once at
  * exit. */
final class Tracer(sc: SparkContext, val counters: SparkCounters) {
  var on = false
  var cycle = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  val fsBySpan = mutable.Map.empty[String, FsStats.Snap]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevProp = sc.getLocalProperty(counters.SpanProp)
    sc.setLocalProperty(counters.SpanProp, name)
    stack = id :: stack
    val fs0 = FsStats.now()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val d = FsStats.now() - fs0
      stack = stack.tail
      sc.setLocalProperty(counters.SpanProp, prevProp)
      spans += Span(id, name, t0, t1, parent, cycle)
      // a span's delta includes its children's: keep the self part
      val self = d - childFs.remove(id).getOrElse(FsStats.Zero)
      fsBySpan(name) = fsBySpan.getOrElse(name, FsStats.Zero) + self
      if (parent >= 0) childFs(parent) = childFs.getOrElse(parent, FsStats.Zero) + d
    }
  }
  private val childFs = mutable.Map.empty[Int, FsStats.Snap]

  /** Traced runs only: materialize `df` here, so the enclosing span holds
    * the jobs that compute it. Untraced runs keep the plain, lazy
    * composition; the barriers' cost shows in `trace.overhead_frac`. */
  def barrier(df: DataFrame): DataFrame = if (on) df.localCheckpoint() else df

  /** Self seconds per span name: own duration minus direct children's. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long]
    spans.foreach(s => if (s.parent >= 0)
      childNs(s.parent) = childNs.getOrElse(s.parent, 0L) + (s.endNs - s.startNs))
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

  def totalSeconds(name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum

  def count(name: String): Int = spans.count(_.name == name)

  /** Spans as JSON lines (name, start/end ns relative to the first span,
    * parent id, cycle id). */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs - t0},""" +
        s""""end_ns":${s.endNs - t0},"parent":${s.parent},"cycle":${s.cycle}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
