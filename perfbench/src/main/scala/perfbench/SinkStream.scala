package perfbench

import graft.config.{ErrorBehavior, SinkConfig, TableMapping}
import graft.ingest.{LocalTableIngestClient, ManagedStreamingIngestClient}
import graft.pipeline.{KustoSparkPipeline, SinkMetrics}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A Kafka-source row as the memory source feeds it. */
final case class SRec(topic: String, partition: Int, offset: Long, value: Array[Byte])

/** `sink_stream`: open loop. One generator thread appends seeded JSON
  * records, each carrying its due time, to one memory source per
  * topic-partition (two topics of four partitions, so every micro-batch has
  * one Spark partition per topic-partition, as the Kafka source gives) at a
  * fixed rate. The pipeline runs through `KustoSparkPipeline.start` on a
  * fresh checkpoint with streaming mappings, the reference integration-test
  * flush settings (10,000 B, 1,000 ms), and managed streaming ingest whose
  * streaming path injects seeded transient failures on about 2% of calls. */
object SinkStream {
  val Topics: Seq[String] = Seq("clicks", "orders")
  val Partitions = 4
  /** Offered records per second: well below what the pipeline sustains on
    * two cores, so that each trigger carries about a hundred records and
    * its fixed cost, not a backlog, sets the latency. */
  val Rate = 500
  val FlushBytes = 10000L
  val FlushMs = 1000L
  /** Seconds of load offered before the measured window opens: they warm
    * the JVM up and are checked but not measured. */
  val WarmUpS = 12
  val Db = "bench"
  /** Shares of staged files whose first streaming attempt fails, and whose
    * every streaming attempt fails (these fall back to queued ingest). */
  val FailFirst = 0.012
  val FailAll = 0.003
  private val Actions = Array("view", "click", "cart", "buy", "search", "leave")

  /** Record `i` of the schedule: topic, partition and offset. */
  def coords(i: Long): (Int, Int, Long) = ((i % 2).toInt, ((i / 2) % Partitions).toInt, i / 8)
  def index(t: Int, p: Int, o: Long): Long = o * 8 + p * 2 + t
  def dueMs(t0: Long, i: Long): Long = t0 + i * 1000L / Rate

  def value(seed: Long, t: Int, p: Int, o: Long, due: Long): Array[Byte] = {
    val h = scala.util.hashing.MurmurHash3.productHash((seed, t, p, o)) & 0x7fffffff
    (s"""{"kp":$p,"ko":$o,"due":$due,"user":"u-${h % 5000}","action":"${Actions(h % 6)}",""" +
      s""""amount_cents":${(h >>> 7) % 100000},"session":"${Integer.toHexString(h * 31 + 7)}"}""")
      .getBytes(UTF_8)
  }

  def config(stage: Path): SinkConfig = SinkConfig(
    mappings = Topics.map(t => TableMapping(t, Db, t, "json", streaming = true)),
    flushSizeBytes = FlushBytes, flushIntervalMs = FlushMs,
    behaviorOnError = ErrorBehavior.Fail, tempDir = stage.toString)

  /** Appends records to the sources on schedule; remembers how late each
    * tick ran and how many records were offered when. */
  final class Generator(sources: IndexedSeq[MemoryStream[SRec]], seed: Long, val t0: Long,
                        total: Long) extends Thread("perfbench-generator") {
    private var offered = 0L
    val lagMs = mutable.ArrayBuffer.empty[Double]
    val timeline = mutable.ArrayBuffer.empty[(Double, Long)]
    @volatile var error: Throwable = _
    setDaemon(true)

    override def run(): Unit = try {
      while (offered < total) {
        val target = math.min(total, ((Clock.nowMs - t0) * Rate / 1000).toLong)
        val from = offered
        if (target > from) {
          val bySource = (from until target).groupBy { i => val (t, p, _) = coords(i); t * Partitions + p }
          bySource.toSeq.sortBy(_._1).foreach { case (s, is) =>
            sources(s).addData(is.map { i =>
              val (t, p, o) = coords(i)
              SRec(Topics(t), p, o, value(seed, t, p, o, dueMs(t0, i)))
            })
          }
          val now = Clock.nowMs
          lagMs += now - dueMs(t0, from)
          offered = target
          timeline += ((now, target))
        }
        Thread.sleep(2)
      }
    } catch { case e: Throwable => error = e }
  }

  final case class Running(sources: IndexedSeq[MemoryStream[SRec]], query: StreamingQuery,
                           metrics: SinkMetrics)

  private def start(spark: SparkSession, a: Args, run: Path): Running = {
    Main.wipe(run)
    val tables = run.resolve("tables").toString
    val stage = Files.createDirectories(run.resolve("stage"))
    val sources = (0 until Topics.size * Partitions)
      .map(_ => MemoryStream[SRec](spark, 1)(Encoders.product[SRec]))
    val seed = a.seed
    val metrics = SinkMetrics.forSpark(spark)
    val pipeline = new KustoSparkPipeline(config(stage),
      () => new ManagedStreamingIngestClient(
        new TimedIngest(new LocalTableIngestClient(tables), seed, FailFirst, FailAll),
        new TimedIngest(new LocalTableIngestClient(tables), seed, queued = true)),
      None, metrics)
    val q = pipeline.start(sources.map(_.toDF()).reduce(_ union _), run.resolve("checkpoint").toString)
    q.processAllAvailable()
    Running(sources, q, metrics)
  }

  def run(a: Args): Result = {
    val res = new Result(a.workload)
    Main.wipe(a.out); Files.createDirectories(a.out)
    val spark = Main.session(a)
    var trial = 0
    // nine set-ups: each takes a fifth of a second, so five would leave
    // the median at the mercy of one slow one
    val (setupS, running) = Main.setUp(times = 9) {
      trial += 1
      start(spark, a, a.out.resolve(s"run$trial"))
    }(_.query.stop())
    res.endToEnd("setup_s") = setupS
    val dir = a.out.resolve(s"run$trial")
    Trace.reset(); TimedIngest.reset()

    val total = Rate.toLong * (WarmUpS + a.seconds)
    val gen = new Generator(running.sources, a.seed, System.currentTimeMillis(), total)
    val opened = gen.t0 + WarmUpS * 1000.0
    gen.start()
    gen.join((a.seconds + 30) * 1000L)
    if (gen.error != null) throw gen.error
    if (!drain(running.query, 60000)) res.fail("the stream did not drain its backlog within 60 s")
    running.query.stop()
    Main.log("stream drained")

    val progress = running.query.recentProgress.toSeq.filter { p =>
      p.numInputRows > 0 && java.time.Instant.parse(p.timestamp).toEpochMilli >= opened
    }
    val ops = progress.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val trig = p.durationMs.get("triggerExecution").doubleValue
      Trace.span(s"batch-${p.batchId}", "stream.trigger", start, start + trig)
      Op(s"batch-${p.batchId}", start, start + trig, start)
    }

    // ---- output checks (outside the timed region) ----
    res.attempted = total
    val bad = check(dir.resolve("tables").resolve(Db), a.seed, gen.t0, total)
    if (bad > 0) res.fail(s"$bad records lost, duplicated, misrouted or corrupt", bad)
    val snap = running.metrics.snapshot
    Seq("records-written" -> total, "records-failed" -> 0L, "dlq-records-sent" -> 0L)
      .foreach { case (k, want) =>
        if (snap(k) != want) res.fail(s"SinkMetrics $k=${snap(k)}, expected $want")
      }
    Main.log("checks done")

    // ---- end-to-end metrics ----
    val calls = Trace.ingests.asScala.toSeq.filter(_.accepted)
    val dues = calls.map { c =>
      val t = Topics.indexOf(c.topic)
      c -> (c.firstOffset to c.lastOffset).map(o => dueMs(gen.t0, index(t, c.partition, o)))
        .filter(_ >= opened)
    }
    val visible = dues.flatMap { case (c, ds) => ds.map(due => (c.endMs - due, 1L)) }
    val trigMs = ops.map(o => o.endMs - o.startMs)
    val lastAccept = if (calls.isEmpty) Clock.nowMs else calls.map(_.endMs).max
    res.endToEnd("throughput_per_s") = visible.size / ((lastAccept - opened) / 1e3)
    res.endToEnd("op_p50_ms") = Stats.median(trigMs)
    res.endToEnd("visible_p50_ms") = Stats.weightedPercentile(visible, 0.5)
    val files = dues.count(_._2.nonEmpty)
    res.endToEnd("visible_tail_ms") = Landed.weightedTail(visible, files, res, "visible_tail")
    res.notes("op_ms") = trigMs.map(v => f"$v%.0f").mkString(" ")
    res.notes("records") = s"offered=$total (${WarmUpS} s of them before the window) " +
      s"landed=${calls.map(_.records).sum} triggers=${ops.size}"

    if (a.trace) {
      PerfbenchAccess.drainListeners(spark.sparkContext)
      def d(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val streamSelf = progress.map { p =>
        s"batch-${p.batchId}" -> math.max(0.0,
          d(p, "triggerExecution") - d(p, "addBatch") - d(p, "queryPlanning"))
      }.toMap
      val addBatch = progress.map(p => s"batch-${p.batchId}" -> d(p, "addBatch")).toMap
      Layers.fill(res, ops, a.cores, addBatch, streamSelf)
      val n = progress.size.toDouble
      res.perLayer("stream.batches") = n
      res.perLayer("stream.rows_per_batch") = progress.map(_.numInputRows).sum / n
      Seq("trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
        "query_planning_ms" -> "queryPlanning", "latest_offset_ms" -> "latestOffset",
        "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets")
        .foreach { case (m, k) => res.perLayer(s"stream.$m") = progress.map(d(_, k)).sum / n }
      val backlog = backlogs(running.query.recentProgress.toSeq, gen.timeline.toSeq)
        .filter(_._1 >= opened)
      res.perLayer("stream.backlog_records_max") = if (backlog.isEmpty) 0.0 else backlog.map(_._2).max
      res.perLayer("stream.backlog_records_end") =
        backlog.filter(_._1 <= opened + a.seconds * 1000.0).lastOption.map(_._2).getOrElse(0.0)
      res.perLayer("gen.lag_p99_ms") = Stats.percentile(gen.lagMs.toSeq, 0.99)
      res.perLayer("gen.records_offered") = total.toDouble
      res.perLayer("pipeline.batch_s") = progress.map(d(_, "addBatch")).sum / 1e3 / n
      res.perLayer("pipeline.records_in") = progress.map(_.numInputRows).sum / n
      res.perLayer("ingest.success_ratio") =
        snap("ingestion-successes").toDouble / math.max(1L, snap("ingestion-attempts"))
    }
    res
  }

  /** Landed records that are not exactly one offered record, plus offered
    * records that never landed. */
  private def check(root: Path, seed: Long, t0: Long, total: Long): Long = {
    val seen = mutable.HashSet.empty[Long]
    var bad = 0L
    if (Files.exists(root)) Files.list(root).iterator.asScala.foreach { table =>
      val t = Topics.indexOf(table.getFileName.toString)
      Files.list(table).iterator.asScala.foreach { f =>
        Landed.readFile(f.toString).foreach { case (p, o, h) =>
          val i = index(t, p, o)
          if (t < 0 || p < 0 || p >= Partitions || i >= total || !seen.add(i) ||
              Landed.hash(value(seed, t, p, o, dueMs(t0, i))) != h) bad += 1
        }
      }
    }
    bad + (total - seen.size)
  }

  /** Offered minus committed records at the end of each trigger. */
  private def backlogs(progress: Seq[StreamingQueryProgress],
                       timeline: Seq[(Double, Long)]): Seq[(Double, Double)] = {
    var committed = 0L
    progress.sortBy(_.batchId).map { p =>
      committed += p.numInputRows
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").doubleValue
      val offered = timeline.takeWhile(_._1 <= end).lastOption.map(_._2).getOrElse(0L)
      (end, (offered - committed).toDouble)
    }
  }

  /** Waits until the query has processed everything offered. */
  private def drain(q: StreamingQuery, timeoutMs: Long): Boolean = {
    val t = new Thread(() => try q.processAllAvailable() catch { case _: Throwable => () })
    t.setDaemon(true)
    t.start()
    t.join(timeoutMs)
    !t.isAlive && q.exception.isEmpty
  }
}
