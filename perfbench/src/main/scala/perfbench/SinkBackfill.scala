package perfbench

import graft.config.{ErrorBehavior, SinkConfig, TableMapping}
import graft.ingest.{InMemoryDlq, LocalTableIngestClient}
import graft.pipeline.{KustoSparkPipeline, SinkMetrics}
import graft.sink.{AvroEncode, FormatWriters, RollingFileWriter, SinkRecord}
import java.nio.file.{Files, Path}
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** `sink_backfill`: closed loop of equal batches fed in order to
  * `KustoSparkPipeline.processBatch`. Seeded telemetry rows over four
  * topics of four partitions each (JSON, CSV, Avro with a value schema,
  * and one unmapped topic whose records go to the DLQ; about 1% of records
  * are tombstones) are generated and cached during set-up; encoding to
  * wire bytes happens inside each timed batch. Reference flush defaults
  * (1 MiB, 30 s) and queued ingest into local table directories.
  *
  * Every batch encodes the same cached rows; batch `b` shifts Kafka offsets
  * by `b * perTp`, so every batch carries new offsets. A value carries its
  * partition (`kp`) and its offset within the batch (`seq`) as its first
  * two fields. */
object SinkBackfill {
  val Topics: Seq[String] = Seq("tele_json", "tele_csv", "tele_avro", "tele_unmapped")
  val Mapped: Seq[String] = Topics.take(3)
  val Partitions = 4
  /** Records per topic-partition per batch: mapped topics (about 1.4 MB of
    * values, so each batch rolls once by size), and the unmapped topic
    * (about 1% of all records). */
  val PerTp = 8192
  val UnmappedPerTp = 83
  val WarmUpBatches = 8
  val Db = "bench"
  val ValueCols: Seq[String] = Seq("kp", "seq", "device", "ts", "metric", "reading", "cnt", "ok", "note")

  def perTp(topic: String): Int = if (Mapped.contains(topic)) PerTp else UnmappedPerTp

  /** Typed rows of one topic, one Spark partition per Kafka partition;
    * `seq` is the offset within the batch. */
  def generate(spark: SparkSession, seed: Long, topic: String): DataFrame = {
    val n = perTp(topic)
    val ti = Topics.indexOf(topic)
    def h(i: Int): Column = xxhash64(lit(seed), lit(ti), col("kp"), col("seq"), lit(i))
    spark.range(0, Partitions.toLong * n, 1, Partitions)
      .select(lit(topic).as("topic"), floor(col("id") / n).cast("int").as("kp"),
        (col("id") % n).as("seq"))
      .select(col("*"),
        (pmod(h(1), lit(100)) === 0).as("tomb"),
        concat(lit("dev-"), pmod(h(2), lit(2000)).cast("string")).as("device"),
        timestamp_micros(lit(1700000000000000L) + col("seq") * 1000 + pmod(h(3), lit(1000))).as("ts"),
        element_at(array(Seq("cpu", "mem", "disk", "net", "temp", "fan").map(lit): _*),
          (pmod(h(4), lit(6)) + 1).cast("int")).as("metric"),
        round(pmod(h(5), lit(1000000)) / 1000.0, 3).as("reading"),
        pmod(h(6), lit(10000)).cast("int").as("cnt"),
        (pmod(h(7), lit(10)) < 9).as("ok"),
        concat(lit("fw=v"), pmod(h(8), lit(7)).cast("string"), lit(";trace="), hex(h(9))).as("note"))
  }

  /** Kafka-shaped batch `batchId` (topic, partition, offset, value) of the
    * cached rows: JSON, CSV and Avro encoding per topic; tombstones get a
    * null value. The offset shift is a decimal literal of a fixed type:
    * Spark's code generator writes an integral literal into the generated
    * source, so a long shift would make every batch compile (and the JIT
    * compile) new code, which a Kafka source's batches do not; a decimal
    * literal is passed by reference, so every batch runs the same code. */
  def encode(rows: Seq[DataFrame], batchId: Long): DataFrame =
    Topics.zip(rows).map { case (t, df) =>
      val shift = lit(java.math.BigDecimal.valueOf(batchId * perTp(t))).cast(DecimalType(20, 0))
      val d = df.withColumn("partition", col("kp"))
        .withColumn("offset", (col("seq") + shift).cast("long"))
      val pass = Seq("topic", "partition", "offset", "tomb")
      val encoded = t match {
        case "tele_csv" => d.withColumn("value", to_csv(struct(ValueCols.map(col): _*)).cast("binary"))
        case "tele_avro" => AvroEncode.encode(d.select((pass ++ ValueCols).map(col): _*), pass)._1
        case _ => d.withColumn("value", to_json(struct(ValueCols.map(col): _*)).cast("binary"))
      }
      encoded.select(col("topic"), col("partition"), col("offset"),
        when(col("tomb"), lit(null).cast("binary")).otherwise(col("value")).as("value"))
    }.reduce(_ union _)

  def config(stage: Path, schema: String): SinkConfig = SinkConfig(
    mappings = Seq(TableMapping("tele_json", Db, "tele_json", "json"),
      TableMapping("tele_csv", Db, "tele_csv", "csv"),
      TableMapping("tele_avro", Db, "tele_avro", "avro", valueSchema = Some(schema))),
    behaviorOnError = ErrorBehavior.Log, dlqTopic = Some("bench-dlq"),
    tempDir = stage.toString)

  /** Per topic, its cached rows; the Avro value schema. */
  final case class Loaded(rows: Seq[DataFrame], schema: String) {
    def unpersist(): Unit = rows.foreach(_.unpersist(blocking = true))
  }

  /** Generates and caches every topic's rows (the set-up). */
  def load(spark: SparkSession, seed: Long): Loaded = {
    val rows = Topics.map(t => generate(spark, seed, t).persist(StorageLevel.MEMORY_ONLY))
    rows.reduce(_ union _).count() // one job fills every cache
    val avro = generate(spark, seed, "tele_avro")
    Loaded(rows, AvroEncode.encode(avro.select(("topic" +: ValueCols).map(col): _*), Seq("topic"))._2)
  }

  def run(a: Args): Result = {
    val res = new Result(a.workload)
    Main.wipe(a.out); Files.createDirectories(a.out)
    val spark = Main.session(a)
    val (setupS, loaded) = Main.setUp()(load(spark, a.seed))(_.unpersist())
    res.endToEnd("setup_s") = setupS

    val stage = Files.createDirectories(a.out.resolve("stage"))
    val tables = a.out.resolve("tables").toString
    val dlqId = s"perfbench-dlq-${a.seed}"
    InMemoryDlq.reset(dlqId)
    val metrics = SinkMetrics.forSpark(spark)
    val seed = a.seed
    val pipeline = new KustoSparkPipeline(config(stage, loaded.schema),
      () => new TimedIngest(new LocalTableIngestClient(tables), seed),
      Some(() => new InMemoryDlq(dlqId)), metrics)
    def batch(id: Int): Unit = pipeline.processBatch(encode(loaded.rows, id), id)

    // the first WarmUpBatches warm the JVM up and are checked but not timed
    (0 until WarmUpBatches).foreach(batch)
    Main.log("warm-up batches done")
    Trace.reset()
    val t0 = Clock.nowMs
    var id = WarmUpBatches
    while (Clock.nowMs - t0 < a.seconds * 1000.0) {
      val op = s"batch-$id"
      spark.sparkContext.setLocalProperty(Trace.OpKey, op)
      val start = Clock.nowMs
      try batch(id)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $op failed: ${e.getMessage}")
        res.fail(op)
      }
      val end = Clock.nowMs
      spark.sparkContext.setLocalProperty(Trace.OpKey, null)
      Trace.ops.add(Op(op, start, end, start))
      Trace.span(op, "pipeline.processBatch", start, end)
      id += 1
    }
    val batches = id
    val ops = Trace.ops.asScala.toSeq
    val wallS = ops.map(o => o.endMs - o.startMs).sum / 1e3
    val batchMs = ops.map(o => o.endMs - o.startMs)
    Main.log(s"timed loop done: ${ops.size} batches")

    // ---- output checks (outside the timed region) ----
    val exp = new Expected(loaded, batches)
    res.attempted = exp.fed
    val landedBad = exp.checkLanded(Path.of(tables, Db), a.cores)
    if (landedBad > 0) res.fail(s"$landedBad records lost, duplicated, misrouted or corrupt", landedBad)
    val dlqBad = exp.checkDlq(InMemoryDlq.state(dlqId).asScala.toSeq)
    if (dlqBad > 0) res.fail(s"$dlqBad DLQ records differ from the unmapped records", dlqBad)
    val snap = metrics.snapshot
    Seq("records-written" -> exp.mapped, "records-failed" -> exp.unmapped,
      "dlq-records-sent" -> exp.unmapped).foreach { case (k, want) =>
      if (snap(k) != want) res.fail(s"SinkMetrics $k=${snap(k)}, expected $want")
    }
    Main.log("checks done")

    // ---- end-to-end metrics ----
    val visible = Landed.visibleMs(ops)
    res.endToEnd("throughput_per_s") = exp.mappedPerBatch * ops.size / wallS
    res.endToEnd("op_p50_ms") = Stats.median(batchMs)
    res.endToEnd("visible_p50_ms") = Stats.weightedPercentile(visible, 0.5)
    res.endToEnd("visible_tail_ms") = Landed.weightedTail(visible, visible.size, res, "visible_tail")
    res.notes("op_ms") = batchMs.map(v => f"$v%.0f").mkString(" ")
    res.notes("records") = s"fed=${exp.fed} landed=${exp.mapped} dlq=${exp.unmapped} batches=$batches ($WarmUpBatches untimed)"

    if (a.trace) {
      PerfbenchAccess.drainListeners(spark.sparkContext)
      Layers.fill(res, ops, a.cores, ops.map(o => o.id -> (o.endMs - o.startMs)).toMap)
      res.perLayer("pipeline.batch_s") = wallS / ops.size
      res.perLayer("pipeline.records_in") = exp.fed.toDouble / batches
      res.perLayer("ingest.success_ratio") =
        snap("ingestion-successes").toDouble / math.max(1L, snap("ingestion-attempts"))
      writerRates(loaded, a.out.resolve("writer"), res)
      spark.stop()
      res.perLayer("pipeline.records_per_s_1core") = oneCore(a)
    }
    res
  }

  /** What batches `0 until batches` fed, from the cached rows encoded once:
    * per (topic, partition), the value hash of each record by `seq`, None
    * for a tombstone. */
  final class Expected(l: Loaded, batches: Int) {
    private val hashes: Map[(Int, Int), Array[Option[Long]]] = {
      val rows = encode(l.rows, 0)
        .select(col("topic"), col("partition"), col("offset"),
          when(col("value").isNotNull, xxhash64(col("value"))).as("h"))
        .collect()
      rows.groupBy(r => (Topics.indexOf(r.getString(0)), r.getInt(1))).map { case (k, rs) =>
        val arr = Array.fill[Option[Long]](perTp(Topics(k._1)))(None)
        rs.foreach(r => arr(r.getLong(2).toInt) = if (r.isNullAt(3)) None else Some(r.getLong(3)))
        k -> arr
      }
    }
    private def live(ti: Int): Long =
      batches * (0 until Partitions).map(p => hashes((ti, p)).count(_.isDefined).toLong).sum
    val fed: Long = Topics.map(t => Partitions.toLong * perTp(t)).sum * batches
    val mapped: Long = Mapped.indices.map(live).sum
    val unmapped: Long = live(Topics.indexOf("tele_unmapped"))
    val mappedPerBatch: Double = mapped.toDouble / batches

    /** Expected value hash at (topic, partition, Kafka offset); None when
      * no fed batch has a live record there. */
    def hash(ti: Int, p: Int, offset: Long): Option[Long] =
      if (ti < 0 || p < 0 || p >= Partitions || offset < 0) None
      else {
        val n = perTp(Topics(ti))
        if (offset / n >= batches) None else hashes((ti, p))((offset % n).toInt)
      }

    /** Reads every landed file (topic from its table, partition and first
      * offset from its name, `kp` and `seq` from each value) and counts the
      * records that are not exactly one expected record, plus the expected
      * records that never landed. */
    def checkLanded(root: Path, threads: Int): Long = {
      val files = if (!Files.exists(root)) Seq.empty else
        Files.list(root).iterator.asScala.toSeq.flatMap(t => Files.list(t).iterator.asScala.toSeq)
      val seen = new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Integer]()
      val bad = new java.util.concurrent.atomic.AtomicLong()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
      try {
        files.map { f =>
          pool.submit(new Runnable {
            def run(): Unit = {
              val ti = Topics.indexOf(f.getParent.getFileName.toString)
              val (_, p, first) = TimedIngest.coordinates(f)
              val n = perTp(Topics(math.max(ti, 0)))
              val base = first / n * n
              Landed.readFile(f.toString).foreach { case (kp, seq, h) =>
                val off = base + seq
                if (kp != p || !hash(ti, p, off).contains(h)) bad.incrementAndGet()
                else seen.merge((ti, p, off), 1, (x: Integer, y: Integer) => Integer.valueOf(x + y))
              }
            }
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      val dups = seen.values.asScala.map(_ - 1L).sum
      bad.get + dups + (mapped - seen.size)
    }

    /** DLQ entries against the unmapped topic's live records. */
    def checkDlq(entries: Seq[(Array[Byte], Array[Byte])]): Long = {
      val KeyRe = "topic=(\\S+), partition=(\\d+), offset=(\\d+)\\.".r.unanchored
      val got = entries.map { case (k, v) =>
        new String(k, "UTF-8") match {
          case KeyRe(t, p, o) if hash(Topics.indexOf(t), p.toInt, o.toLong).contains(Landed.hash(v)) =>
            Some((t, p.toInt, o.toLong))
          case _ => None
        }
      }
      val ok = got.flatten
      got.count(_.isEmpty) + (ok.size - ok.toSet.size) + (unmapped - ok.toSet.size)
    }
  }

  /** `RollingFileWriter.write` driven on one thread over the values of
    * one batch, per format: records per second. */
  private def writerRates(l: Loaded, dir: Path, res: Result): Unit = {
    Files.createDirectories(dir)
    val batch = encode(l.rows, 0)
    Seq("json" -> "tele_json", "csv" -> "tele_csv", "avro" -> "tele_avro").foreach { case (fmt, t) =>
      val values = batch.where(col("topic") === t && col("value").isNotNull)
        .select("value").collect().map(_.getAs[Array[Byte]](0))
      val provider = FormatWriters.forFormat(fmt, if (fmt == "avro") Some(l.schema) else None)
      val rates = (1 to 3).map { _ =>
        val w = new RollingFileWriter(dir.toString, t, 0, provider, SinkConfig.DefaultFlushSizeBytes,
          SinkConfig.DefaultFlushIntervalMs, _ => ())
        val t0 = System.nanoTime()
        var i = 0
        while (i < values.length) { w.write(SinkRecord(t, 0, i.toLong, null, values(i))); i += 1 }
        w.close()
        values.length / ((System.nanoTime() - t0) / 1e9)
      }
      res.perLayer(s"sink.write_records_per_s.$fmt") = Stats.median(rates)
    }
  }

  /** The same batches on a one-core session, for three seconds: records
    * fed per second. */
  private def oneCore(a: Args): Double = {
    val spark = Main.session(a.copy(trace = false), cores = 1)
    try {
      val l = load(spark, a.seed)
      val root = a.out.resolve("one-core")
      val stage = Files.createDirectories(root.resolve("stage"))
      val dlqId = s"perfbench-dlq-1core-${a.seed}"
      val tables = root.resolve("tables").toString
      val pipeline = new KustoSparkPipeline(config(stage, l.schema),
        () => new LocalTableIngestClient(tables),
        Some(() => new InMemoryDlq(dlqId)), SinkMetrics.forSpark(spark))
      val perBatch = Topics.map(t => Partitions.toLong * perTp(t)).sum
      pipeline.processBatch(encode(l.rows, 0), 0)
      val t0 = System.nanoTime()
      var id = 1
      while (id < 3 || (System.nanoTime() - t0) < 3e9) {
        pipeline.processBatch(encode(l.rows, id), id)
        id += 1
      }
      val rate = (id - 1).toDouble * perBatch / ((System.nanoTime() - t0) / 1e9)
      InMemoryDlq.reset(dlqId)
      rate
    } finally spark.stop()
  }
}
