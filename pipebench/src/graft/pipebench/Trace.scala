package graft.pipebench

import java.lang.management.ManagementFactory
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Process-wide clocks: process CPU (executors, driver, GC and JIT share
  * one JVM under `local[N]`), the JIT compiler threads' share of it, and
  * collector time.
  */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  /** Process CPU without the JIT compiler threads: executors, driver and
    * GC. The JIT is left out because its share of a warm job depends on
    * how far its compile queue has drained, which varies from run to run
    * by more than the work does.
    */
  def workCpuNs: Long = cpuNs - jitNs
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** CPU of the JIT compiler threads, read from `/proc/self/task` (0 where
    * there is none). Counts only live threads, so the JVM must keep its
    * compiler threads (`-XX:-UseDynamicNumberOfCompilerThreads`).
    */
  def jitNs: Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "comm").toPath))
        if (!comm.contains("CompilerThre")) 0L
        else {
          val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * TickNs
        }
      } catch { case _: java.io.IOException | _: NumberFormatException => 0L }
    }.sum
  }
  /** `/proc` counts CPU in clock ticks of 10 ms. */
  private val TickNs = 10000000L
}

/** Bytes of RDD blocks (caches and checkpoints) held by the block
  * manager. Fed by `BlockUpdated` events; unpersisted RDDs leave through
  * `UnpersistRDD`, because executors do not report those removals block
  * by block. After [[reset]] it follows the blocks a job writes: their
  * peak total, and the bytes each RDD stored.
  */
final class StorageMeter extends SparkListener {
  private val blocks = collection.mutable.HashMap.empty[String, (Int, Long)]
  private var held = Set.empty[String]
  private var current = 0L
  private var jobCurrent = 0L
  private var jobPeak = 0L
  private val stored = collection.mutable.HashMap.empty[Int, Long]

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rid =>
      val key = info.blockId.name
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val prev = blocks.get(key).map(_._2).getOrElse(0L)
      if (bytes > 0) blocks(key) = (rid.rddId, bytes) else blocks.remove(key)
      current += bytes - prev
      if (!held(key)) {
        jobCurrent += bytes - prev
        jobPeak = math.max(jobPeak, jobCurrent)
        if (bytes > prev) stored(rid.rddId) = stored.getOrElse(rid.rddId, 0L) + bytes - prev
      }
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.collect { case (k, (rdd, b)) if rdd == e.rddId => (k, b) }
    gone.foreach { case (k, b) =>
      blocks.remove(k)
      current -= b
      if (!held(k)) jobCurrent -= b
    }
  }

  /** Start following a job: blocks held now are not the job's. */
  def reset(): Unit = synchronized {
    held = blocks.keySet.toSet; jobCurrent = 0L; jobPeak = 0L; stored.clear()
  }
  /** Bytes held in total. */
  def currentBytes: Long = synchronized(current)
  /** Peak bytes of the blocks written since the last reset. */
  def jobPeakBytes: Long = synchronized(jobPeak)
  /** RDD ids whose blocks were stored since the last reset, with bytes. */
  def storedSinceReset: Map[Int, Long] = synchronized(stored.toMap)
}

/** Per-span aggregation of task metrics. The benchmark thread tags every
  * job with the active span through a local property; stages inherit the
  * tag of the job that submitted them.
  */
final class SpanListener extends SparkListener {
  final class Agg {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var runMs = 0L
    var shuffleWriteB = 0L; var spillB = 0L; var gcMs = 0L
  }
  final class StageAgg(val span: String) {
    var cpuNs = 0L; var tasks = 0L; var site = ""
  }
  val aggs = TrieMap.empty[String, Agg]
  val stages = TrieMap.empty[Int, StageAgg]
  private val stageSpan = TrieMap.empty[Int, String]
  // SQL execution id -> the library frame that started it; jobs of
  // adaptive query stages are submitted from pool threads whose own call
  // sites name no library frame
  private val executionSite = TrieMap.empty[Long, String]
  private val stageExecution = TrieMap.empty[Int, Long]

  /** The first library frame of a long call site, as ProfileRun finds it. */
  private def librarySite(details: String): Option[String] =
    details.linesIterator.map(_.trim.stripPrefix("at "))
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.pipebench") &&
        !l.startsWith("graft.core.SessionHygiene"))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      librarySite(x.details).foreach(executionSite.put(x.executionId, _))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .getOrElse(Tracer.Untagged)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(v => scala.util.Try(v.toLong).toOption)
    e.stageIds.foreach { sid =>
      stageSpan.putIfAbsent(sid, span)
      exec.foreach(stageExecution.putIfAbsent(sid, _))
    }
    val a = aggs.getOrElseUpdate(span, new Agg)
    a.synchronized(a.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrElse(e.stageId, Tracer.Untagged)
    val m = e.taskMetrics
    if (m != null) {
      val a = aggs.getOrElseUpdate(span, new Agg)
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        a.runMs += m.executorRunTime
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
      }
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg(span))
      s.synchronized { s.cpuNs += m.executorCpuTime; s.tasks += 1 }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, new StageAgg(stageSpan.getOrElse(i.stageId, Tracer.Untagged)))
    val site = librarySite(i.details)
      .orElse(stageExecution.get(i.stageId).flatMap(executionSite.get))
      .getOrElse(i.name.linesIterator.toSeq.headOption.getOrElse(""))
    s.synchronized(s.site = site)
  }

}

/** One recorded span: a layer boundary call or materialization. */
final case class Span(name: String, parent: String, job: Int, startNs: Long, endNs: Long,
    cpuNs: Long, gcMs: Long) {
  // cpuNs is work CPU: process CPU without the JIT compiler threads
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer. The untraced
  * tracer runs the bodies bare and leaves plans untouched; the traced one
  * tags jobs, records spans in memory and materializes each layer's
  * output at its boundary so execution time lands in that layer's span.
  */
class Tracer {
  def span[T](name: String)(body: => T): T = body
  /** Hand a layer's output to the next layer. */
  def boundary(layer: String, df: DataFrame): DataFrame = df
}

object Tracer {
  val SpanProp = "pipebench.span"
  val Untagged = "(untagged)"
  val BenchWork = "(checks)"
  val off = new Tracer
}

final class LiveTracer(spark: SparkSession) extends Tracer {
  private val sc = spark.sparkContext
  val spans = collection.mutable.ArrayBuffer.empty[Span]
  /** The benchmark's own materializations by layer, released after the job. */
  val owned = collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
  /** Spans of one job share this id; a run traces a single job. */
  val job = 1

  override def span[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, name)
    val cpu0 = Clock.workCpuNs; val gc0 = Clock.gcMs
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans += Span(name, s"job-$job", job, t0, t1, Clock.workCpuNs - cpu0, Clock.gcMs - gc0)
      sc.setLocalProperty(Tracer.SpanProp, prev)
      org.apache.spark.PipebenchBus.drain(sc)
    }
  }

  override def boundary(layer: String, df: DataFrame): DataFrame = {
    val m = span(s"$layer.exec")(df.localCheckpoint(eager = true))
    owned += layer -> m
    m
  }

  /** Rows and columns of each materialized layer output. */
  def outputSizes(): Seq[(String, Long, Int)] =
    owned.toSeq.map { case (l, df) => (l, df.count(), df.columns.length) }

  /** Run benchmark work (checks, counts) under its own tag, outside every span. */
  def outside[T](body: => T): T = {
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, Tracer.BenchWork)
    try body finally sc.setLocalProperty(Tracer.SpanProp, prev)
  }

  def release(): Unit = {
    owned.foreach(o => graft.core.SessionHygiene.checkpointRdds(o._2)
      .foreach(_.unpersist(blocking = true)))
    owned.clear()
  }

  /** JSON lines, one per span. */
  def render: String = spans.map { s =>
    f"""{"name":"${s.name}","parent":"${s.parent}","job":${s.job},""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs}}"""
  }.mkString("\n")
}
