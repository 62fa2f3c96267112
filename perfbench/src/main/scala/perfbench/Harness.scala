package perfbench

import java.io.OutputStream
import java.lang.management.ManagementFactory
import java.net.{InetAddress, ServerSocket}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.SparkEntry
import graft.api.CatalogOps
import graft.sources.{LineOffset, Sbs1}
import graft.streaming.TransactionalJdbcSink
import graft.tools.Dump1090StreamParser

/** The benchmark's in-process side. `run.py` generates the inputs, serves
  * the ingest feed, and turns the raw record this writes to
  * `<work>/result.json` into metrics.
  *
  *   --workload ingest_derby|query_sweep --work DIR
  *   --trace 0|1 --cores N
  *   (ingest) --port P --lines N --settle-at N --burst-lines B
  *   (sweep) --data DIR --keys k1,k2,... --seconds S
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = o("work")
    Spans.enabled = o("trace") == "1"
    val out = o("workload") match {
      case "ingest_derby" => new Ingest(o).run()
      case "query_sweep" => new Sweep(o).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val rec = Map(
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "heap_peak_mb" -> HeapWatch.peakMb,
      "spans" -> Spans.all) ++ out
    Files.writeString(Paths.get(work, "result.json"), Json(rec))
  }

  def session(work: String, master: String,
              extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder().master(master).appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Serves `data` to the first client of a fresh localhost port from a
    * daemon thread; after `gate` (if any) releases, sends `after`, then
    * holds the connection open until closed.
    */
  final class FeedServer(data: Array[Byte], after: Array[Byte] = Array.empty) {
    private val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    val port: Int = server.getLocalPort
    val gate = new java.util.concurrent.CountDownLatch(if (after.isEmpty) 0 else 1)
    @volatile var afterSentMs = 0.0
    private val t = new Thread("perfbench-feed") {
      setDaemon(true)
      override def run(): Unit = try {
        val c = server.accept()
        val os: OutputStream = c.getOutputStream
        os.write(data); os.flush()
        gate.await()
        afterSentMs = Spans.nowMs
        os.write(after); os.flush()
        while (!server.isClosed) Thread.sleep(50)
        c.close()
      } catch { case _: Exception => () }
    }
    t.start()
    def close(): Unit = { server.close(); t.join(5000) }
  }

  def lines(file: String): Array[String] =
    Files.readAllLines(Paths.get(file)).asScala.toArray

  def bytes(ls: Seq[String]): Array[Byte] =
    ls.map(_ + "\n").mkString.getBytes("US-ASCII")
}

/** A progress event of the ingest query, reduced to what the metrics use. */
final case class Batch(id: Long, startMs: Double, triggerMs: Double,
                       addBatchMs: Double, latestOffsetMs: Double,
                       planningMs: Double, walMs: Double, endOffset: Long,
                       inputRows: Long) {
  def endMs: Double = startMs + triggerMs
  def asMap: Map[String, Any] = Map("batch" -> id, "start_ms" -> startMs,
    "trigger_ms" -> triggerMs, "add_batch_ms" -> addBatchMs,
    "latest_offset_ms" -> latestOffsetMs, "planning_ms" -> planningMs,
    "wal_ms" -> walMs, "end_offset" -> endOffset, "input_rows" -> inputRows)
}

/** The ingest query's progress events; with `committedFile`, also the
  * highest committed offset, rewritten after every batch for the load
  * generator to pace its bursts by.
  */
final class ProgressLog(committedFile: Option[String] = None)
    extends StreamingQueryListener {
  val batches = new java.util.concurrent.CopyOnWriteArrayList[Batch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
    val end = Option(p.sources.headOption.map(_.endOffset).orNull)
      .map(_.trim.toLong).getOrElse(0L)
    batches.add(Batch(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      ms("triggerExecution"), ms("addBatch"), ms("latestOffset"),
      ms("queryPlanning"), ms("walCommit") + ms("commitOffsets"),
      end, p.numInputRows))
    committedFile.foreach { f =>
      val tmp = Paths.get(f + ".tmp")
      Files.writeString(tmp, committed.toString)
      Files.move(tmp, Paths.get(f), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }
  def committed: Long = batches.asScala.map(_.endOffset).maxOption.getOrElse(0L)
}

/** Socket → SBS-1 → Derby, fed by run.py's generator on `--port`. The
  * untraced run is the reference's own CLI path (`Dump1090StreamParser.run`
  * with its defaults); the traced run composes the same public functions,
  * with the same defaults, around the traced source and sink calls.
  */
final class Ingest(o: Map[String, String]) {
  import Harness._
  private val work = o("work")
  private val cores = o("cores").toInt
  private val total = o("lines").toLong
  private val traced = Spans.enabled

  private def start(spark: SparkSession, port: Int, tag: String): StreamingQuery = {
    val c = Dump1090StreamParser.Config(location = "127.0.0.1", port = port,
      database = s"$work/$tag-db", checkpoint = Some(s"$work/$tag-ckpt"))
    if (!traced) Dump1090StreamParser.run(spark, c)
    else {
      // the body of Dump1090StreamParser.run and TransactionalJdbcSink.sink
      val squitters = Sbs1.parse(spark.readStream
        .format(classOf[TracedDump1090Provider].getName)
        .option("host", c.location).option("port", c.port.toLong)
        .option("bufferSize", c.bufferSize.toLong)
        .option("connectAttemptLimit", c.connectAttemptLimit.toLong)
        .option("connectAttemptDelay", c.connectAttemptDelay)
        .load())
      val url = Dump1090StreamParser.jdbcUrl(c.database)
      val ckpt = c.checkpoint.get
      val appId = TransactionalJdbcSink.appIdFor(ckpt)
      TransactionalJdbcSink.ensureTables(url, "squitters", squitters.schema,
        Some(appId))
      squitters.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          Spans.time("streaming.write_batch", "spark.add_batch", id.toString)(
            TransactionalJdbcSink.writeBatch(b, id, url, "squitters",
              c.batchSize, appId))
          Spans.time("streaming.prune", "spark.add_batch", id.toString)(
            TransactionalJdbcSink.pruneClaims(url, "squitters", appId, id))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("1 second"))
        .start()
    }
  }

  private def await(q: StreamingQuery, log: ProgressLog, n: Long,
                    timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (log.committed < n) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"ingest stalled: ${log.committed} of $n lines committed")
      Thread.sleep(20)
    }
  }

  /** Aggregates over the landed rows that pin exactly-once delivery. */
  private def landed(tag: String): Map[String, Any] = {
    val sql = "SELECT COUNT(*), COUNT(DISTINCT flight_id), MIN(flight_id), " +
      "MAX(flight_id), SUM(CAST(flight_id AS BIGINT)) FROM squitters"
    val conn = TransactionalJdbcSink.connect(
      Dump1090StreamParser.jdbcUrl(s"$work/$tag-db"))
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next()
      Map("rows" -> rs.getLong(1), "distinct" -> rs.getLong(2),
        "min" -> rs.getLong(3), "max" -> rs.getLong(4), "sum" -> rs.getLong(5))
    } finally conn.close()
  }

  def run(): Map[String, Any] = {
    val spark = session(work, s"local[$cores]",
      Map("spark.sql.shuffle.partitions" -> "32"))
    val sessionMs = Spans.nowMs
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val log = new ProgressLog(Some(s"$work/committed"))
    spark.streams.addListener(log)
    val q = start(spark, o("port").toInt, "main")
    // heap settles in the cool-down after the steady phase, and at the end
    await(q, log, o("settle-at").toLong, 120)
    HeapWatch.settle()
    await(q, log, total, 120)
    HeapWatch.settle()
    q.stop()
    // the probes below run after the measured pipeline and do not count
    val batches = log.batches.asScala.toSeq
    // a span belongs to the last trigger started before it; the 5 ms slack
    // covers the millisecond clock of the progress events
    val spans = Spans.all.map { sp =>
      batches.filter(_.startMs <= sp.start + 5).maxByOption(_.startMs)
        .fold(sp)(b => sp.copy(group = b.id.toString))
    }
    Spans.enabled = false
    val rec = Map[String, Any](
      "heap_peak_mb" -> HeapWatch.peakMb,
      "spans" -> spans,
      "session_ms" -> sessionMs,
      "batches" -> batches.map(_.asMap),
      "landed" -> landed("main"),
      "spark" -> counters.total(_ => true))
    if (!traced) { spark.stop(); rec }
    else {
      val feed = lines(s"$work/feed.txt")
      val probes = Map(
        "frame_lps" -> frameProbe(feed),
        "parse_rps" -> parseProbe(spark),
        "sink_rps" -> sinkProbe(spark))
      spark.stop()
      rec ++ probes + ("drain_lps_1core" -> drainOneCore(feed))
    }
  }

  /** Framing throughput of the source alone: the engine's poll / plan /
    * commit cycle driven directly every 50 ms, spill log on, over the whole
    * feed.
    */
  private def frameProbe(feed: Array[String]): Double = {
    val srv = new FeedServer(bytes(feed.toSeq))
    val t0 = System.nanoTime()
    val s = EngineSource.stream(
      Map("host" -> "127.0.0.1", "port" -> srv.port.toString), s"$work/probe-ckpt")
    var done = 0L
    while (done < feed.length) {
      val end = s.latestOffset().asInstanceOf[LineOffset].offset
      if (end > done) {
        s.planInputPartitions(LineOffset(done), LineOffset(end))
        s.commit(LineOffset(end)); done = end
      }
      Thread.sleep(50)
    }
    val lps = feed.length / ((System.nanoTime() - t0) / 1e9)
    s.stop(); srv.close()
    lps
  }

  /** Batch `Sbs1.parse` over the feed file, all columns materialized;
    * best of two.
    */
  private def parseProbe(spark: SparkSession): Double = {
    val n = spark.read.text(s"$work/feed.txt").count()
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      Sbs1.parse(spark.read.text(s"$work/feed.txt"))
        .write.format("noop").mode("overwrite").save()
      n / ((System.nanoTime() - t0) / 1e9)
    }.max
  }

  /** One `TransactionalJdbcSink.writeBatch` of pre-parsed rows into a fresh
    * Derby database.
    */
  private def sinkProbe(spark: SparkSession): Double = {
    val rows = Sbs1.parse(spark.read.text(s"$work/feed.txt")).limit(50000)
      .localCheckpoint()
    val n = rows.count()
    val url = Dump1090StreamParser.jdbcUrl(s"$work/probe-db")
    TransactionalJdbcSink.ensureTables(url, "squitters", rows.schema)
    val t0 = System.nanoTime()
    TransactionalJdbcSink.writeBatch(rows, 0L, url, "squitters", 1)
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** A burst at local[1]: a 2,000-line warm prefix, then half a burst's
    * lines as fast as the socket takes them.
    */
  private def drainOneCore(feed: Array[String]): Double = {
    val burst = o("burst-lines").toInt / 2
    val warm = 2000
    val spark = session(work, "local[1]",
      Map("spark.sql.shuffle.partitions" -> "32"))
    val log = new ProgressLog
    spark.streams.addListener(log)
    val srv = new FeedServer(bytes(feed.take(warm).toSeq),
      bytes(feed.slice(warm, warm + burst).toSeq))
    val q = start(spark, srv.port, "one")
    await(q, log, warm, 120)
    srv.gate.countDown()
    await(q, log, warm + burst, 150)
    val end = log.batches.asScala.filter(_.endOffset >= warm + burst)
      .map(_.endMs).min
    q.stop(); srv.close(); spark.stop()
    burst / ((end - srv.afterSentMs) / 1000.0)
  }
}

/** Closed-loop query sweep: one client runs the key list pass after pass. */
final class Sweep(o: Map[String, String]) {
  import Harness._
  private val work = o("work")
  private val data = o("data")
  private val keys = o("keys").split(",").toSeq
  private val seconds = o("seconds").toDouble
  // timed passes: at least this many, and at least --seconds of them
  private val MinPasses = 3

  private val modules = Seq(
    "Relational" -> graft.operators.RelationalQueries.queries,
    "Window" -> graft.operators.WindowQueries.queries,
    "Grouping" -> graft.operators.GroupingQueries.queries,
    "Function" -> graft.operators.FunctionQueries.queries,
    "EventTime" -> graft.operators.EventTimeQueries.queries,
    "Text" -> graft.operators.TextQueries.queries,
    "Similarity" -> graft.operators.SimilarityQueries.queries,
    "Dedup" -> graft.operators.DedupQueries.queries,
    "Sbs1" -> graft.operators.Sbs1Queries.queries,
    "Multimodal" -> graft.operators.MultimodalQueries.queries,
    "Stats" -> graft.operators.StatsQueries.queries,
    "RangePivot" -> graft.operators.RangePivotQueries.queries,
    "Sampling" -> graft.operators.SamplingQueries.queries,
    "Pipeline" -> graft.operators.PipelineQueries.queries)

  /** Order-insensitive digest of a result: rows rendered with columns in
    * name order and doubles at ten significant digits, then sorted.
    */
  private def digest(df: DataFrame, rows: Array[Row]): String = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    def norm(v: Any): String = v match {
      case null => "NULL"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d)
          .round(new java.math.MathContext(10)).stripTrailingZeros.toString
      case f: Float => norm(f.toDouble)
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted
          .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case x => x.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(r => order.map(i => norm(r.get(i))).mkString("\u0001")).sorted
      .foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def run(): Map[String, Any] = {
    val cores = o("cores")
    val spark = session(work, s"local[$cores]", Map(
      "spark.sql.shuffle.partitions" -> cores,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "4096"))
    val sessionMs = Spans.nowMs
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val all = SparkEntry.queries
    val unknown = keys.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")

    val c0 = Spans.nowMs
    CatalogOps.registerFixture(spark, data)
    val catalogS = (Spans.nowMs - c0) / 1000

    // warm pass: cold artifact builds, model fits and codegen; its results
    // are the reference every timed pass is checked against
    val ref = keys.map { k =>
      spark.sparkContext.setJobGroup(s"warm/$k", k)
      val t0 = Spans.nowMs
      val df = all(k)(spark, data)
      val rows = df.collect()
      val s = (Spans.nowMs - t0) / 1000
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.parquet(s"$work/out/$k")
      k -> (rows.length.toLong, digest(df, rows), s)
    }.toMap
    HeapWatch.settle()
    val warmEndMs = Spans.nowMs

    val failures = ArrayBuffer.empty[String]
    val runs = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    // a traced run alternates untraced and traced passes, so both see the
    // same warm-up; the difference of their medians is the tracing overhead
    val modes = if (Spans.enabled) Seq(false, true) else Seq(false)
    val t0 = Spans.nowMs
    var pass = 0
    while (pass < MinPasses * modes.size ||
           (Spans.nowMs - t0) / 1000 < seconds * modes.size) {
      pass += 1
      val traced = modes((pass - 1) % modes.size)
      Spans.enabled = traced
      keys.foreach { k =>
        val g = s"$pass/$k"
        spark.sparkContext.setJobGroup(g, k)
        val k0 = Spans.nowMs
        try {
          val df = Spans.time("operators.build", s"q.$k", g)(all(k)(spark, data))
          Spans.time("operators.plan", s"q.$k", g)(df.queryExecution.executedPlan)
          val rows = Spans.time("operators.exec", s"q.$k", g)(df.collect())
          runs += Map("pass" -> pass, "key" -> k, "traced" -> traced,
            "s" -> (Spans.nowMs - k0) / 1000)
          val (n, d, _) = ref(k)
          if (rows.length != n || digest(df, rows) != d)
            failures += s"$g: ${rows.length} rows, expected $n, or digest differs"
        } catch {
          case e: Exception => failures += s"$g: ${e.getMessage}"
        }
      }
      HeapWatch.settle()
      passes += Map("pass" -> pass, "traced" -> traced,
        "spark" -> counters.total(_.startsWith(s"$pass/")))
    }
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val oracle = keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    spark.stop()
    Map("session_ms" -> sessionMs, "catalog_s" -> catalogS,
      "warm_end_ms" -> warmEndMs, "cached_mb" -> cachedMb,
      "reference" -> ref.map { case (k, (n, d, s)) =>
        k -> Map("rows" -> n, "digest" -> d, "warm_s" -> s) },
      "module" -> keys.map(k => k -> modules.find(_._2.contains(k)).get._1).toMap,
      "oracle" -> oracle, "runs" -> runs, "passes" -> passes,
      "failures" -> failures)
  }
}
