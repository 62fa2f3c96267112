package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch milliseconds (fractional),
  * the clock the streaming progress events and the load generator use.
  * `group` ties the spans of one micro-batch (its batch id) or of one
  * query-key run (`pass/key`) together.
  */
final case class Span(name: String, parent: String, group: String,
                      start: Double, end: Double)

/** In-memory span buffer; written out once, when the run ends. Disabled
  * (a plain call) unless the run is traced.
  */
object Spans {
  @volatile var enabled = false
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def time[T](name: String, parent: String, group: => String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = nowMs
      try f finally buf.add(Span(name, parent, group, t0, nowMs))
    }

  def all: Seq[Span] = buf.asScala.toSeq
}

/** Task and job totals per Spark job group, summed from listener events. */
final class Counters extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var deserializeMs = 0L; var gcMs = 0L
    var shuffleWriteB = 0L; var shuffleReadB = 0L; var spillB = 0L
  }
  private val byGroup = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def acc(g: String) = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    acc(g).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.deserializeMs += m.executorDeserializeTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Totals over the groups `keep` selects. */
  def total(keep: String => Boolean): Map[String, Double] = synchronized {
    val s = byGroup.filter { case (g, _) => keep(g) }.values
    def sum(f: Acc => Long) = s.iterator.map(f).sum.toDouble
    Map("jobs" -> sum(_.jobs), "stages" -> sum(_.stages),
      "tasks" -> sum(_.tasks), "deserialize_ms" -> sum(_.deserializeMs),
      "gc_ms" -> sum(_.gcMs),
      "shuffle_write_b" -> sum(_.shuffleWriteB),
      "shuffle_read_b" -> sum(_.shuffleReadB), "spill_b" -> sum(_.spillB))
  }
}

/** Heap retained after a full collection, the largest over the quiet
  * points a run settles at (independent of when the collector runs).
  */
object HeapWatch {
  @volatile private var peak = 0L

  /** Full collection now, and record the heap used after it. The second
    * collection follows Spark's context cleaner, which frees the blocks of
    * objects the first one found unreachable.
    */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { if (used > peak) peak = used }
  }

  def peakMb: Double = peak / 1048576.0
}

/** Minimal JSON writer for the harness' result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case sp: Span => apply(Map("name" -> sp.name, "parent" -> sp.parent,
      "group" -> sp.group, "start" -> sp.start, "end" -> sp.end))
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
