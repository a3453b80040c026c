package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory spans plus a SparkListener that charges Spark work to them.
  *
  * A span is opened on the calling thread around one public call. Its id
  * rides on the Spark local property [[Tracer.Prop]], which jobs and
  * stages submitted from that thread (or from pool threads it creates)
  * carry, so the listener can charge jobs, stages, tasks, task CPU, GC and
  * I/O bytes to the span even though listener events arrive late on the
  * listener bus. Spans nest (one thread); a span's self time is its
  * duration minus its children's. Everything stays in memory until
  * [[Tracer.dump]]. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  final class Span(val id: Int, val parent: Int, val name: String, val form: String) {
    var startNs = 0L
    var endNs = 0L
    var childNs = 0L
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var cpuNs = 0L
    @volatile var gcMs = 0L
    @volatile var inputBytes = 0L
    @volatile var shuffleReadBytes = 0L
    @volatile var shuffleWriteBytes = 0L
    @volatile var spillBytes = 0L
    @volatile var outputBytes = 0L
    def ms: Double = (endNs - startNs) / 1e6
    def selfMs: Double = (endNs - startNs - childNs) / 1e6
    def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
  }

  private val spans = ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var stack = List.empty[Span]
  private var lastJobEnd = -1

  spark.sparkContext.addSparkListener(this)

  /** Run `f` inside a new span; returns f's value and the closed span. */
  def span[T](name: String, form: String = "")(f: => T): (T, Span) = {
    val sc = spark.sparkContext
    val s = new Span(spans.length, stack.headOption.fold(-1)(_.id), name, form)
    spans += s
    byId.put(s.id, s)
    val prev = sc.getLocalProperty(Prop)
    stack = s :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    s.startNs = System.nanoTime()
    try (f, s)
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption.foreach(_.childNs += s.endNs - s.startNs)
      sc.setLocalProperty(Prop, prev)
    }
  }

  private def owner(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(id => Option(byId.get(id.toInt)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    owner(e.properties).foreach(s => s.synchronized(s.jobs += 1))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { lastJobEnd = math.max(lastJobEnd, e.jobId) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    owner(e.properties).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      s.synchronized(s.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      if (m != null) s.synchronized {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }

  /** Wait until the listener has seen every event posted so far: run one
    * tiny job and wait for its end event (the bus delivers in order). */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-barrier", "listener barrier", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val id = sc.statusTracker.getJobIdsForGroup("perfbench-barrier").max
    val deadline = System.nanoTime() + 10_000_000_000L
    while (synchronized(lastJobEnd) < id && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def all: Seq[Span] = spans.toSeq
  def named(name: String, form: String = null): Seq[Span] =
    spans.filter(s => s.name == name && (form == null || s.form == form)).toSeq

  /** Spans as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","form":"${s.form}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${s.selfMs},""" +
        s""""jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},"cpu_ns":${s.cpuNs},""" +
        s""""gc_ms":${s.gcMs},"input_bytes":${s.inputBytes},"shuffle_read_bytes":${s.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${s.shuffleWriteBytes},"spill_bytes":${s.spillBytes},""" +
        s""""output_bytes":${s.outputBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Host and process counters sampled at the start and end of a run, so a
  * reader can tell a stolen or throttled window from a regression. */
final class Forensics {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
  /** Steal jiffies summed over the `cpu` line of /proc/stat (0 if absent). */
  private def steal: Long = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val cpu = f.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
      cpu(8).toLong
    } finally f.close()
  }.getOrElse(0L)

  val nproc: Int = Runtime.getRuntime.availableProcessors()
  private val t0 = System.nanoTime()
  private val cpu0 = os.getProcessCpuTime
  private val gc0 = gcMs
  private val steal0 = steal

  /** (steal_s, process_cpu_util, gc_s, nproc) since construction. */
  def sample(): Map[String, Double] = {
    val wall = (System.nanoTime() - t0) / 1e9
    Map(
      "host.steal_s" -> (steal - steal0) / 100.0,
      "proc.cpu_util" -> (os.getProcessCpuTime - cpu0) / 1e9 / (wall * nproc),
      "jvm.gc_s" -> (gcMs - gc0) / 1000.0,
      "host.nproc" -> nproc.toDouble)
  }
}
