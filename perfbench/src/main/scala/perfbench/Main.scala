package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Command-line arguments of one workload run. `out` is the run's private
  * directory: staging files, landed tables, checkpoints, query results for
  * the oracle check and the result file all go there. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      out: Path, cores: Int, data: String)

/** Entry point of the benchmark JVM: runs one workload and writes
  * `result.json` (and `spans.jsonl` when tracing) into the run directory.
  * The launcher (`run.py`) checks query outputs against DuckDB and prints
  * the final line. */
object Main {
  def main(argv: Array[String]): Unit = {
    log("jvm up")
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("out")).toAbsolutePath, kv("cores").toInt, kv.getOrElse("data", ""))
    Trace.enabled = a.trace
    val res = a.workload match {
      case "sink_backfill" => SinkBackfill.run(a)
      case "sink_stream" => SinkStream.run(a)
      case "short_queries" => QueryLoop.run(a, QueryLoop.shortQueries)
      case "llm_operators" => QueryLoop.run(a, QueryLoop.llmOperators)
      case other => sys.error(s"unknown workload '$other'")
    }
    res.notes("rss_peak_mb") = f"${rssPeakMb()}%.1f"
    Files.writeString(a.out.resolve("result.json"), res.toJson)
    if (a.trace) Trace.writeSpans(a.out.resolve("spans.jsonl"))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** A fresh local session. With tracing on, the job and query-execution
    * listeners are attached from the start. */
  def session(a: Args, cores: Int = -1): SparkSession = {
    val n = if (cores > 0) cores else a.cores
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.out.resolve("spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (a.trace) b.config("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (a.trace) spark.sparkContext.addSparkListener(new JobListener)
    log("session up")
    spark
  }

  /** Runs `prepare` `times` times, undoing all but the last with `undo`;
    * returns the median wall seconds of `prepare` and its last value. */
  def setUp[T](times: Int = 5)(prepare: => T)(undo: T => Unit): (Double, T) = {
    var last: Option[T] = None
    val secs = (1 to times).map { _ =>
      last.foreach(undo)
      val t0 = System.nanoTime()
      last = Some(prepare)
      (System.nanoTime() - t0) / 1e9
    }
    log(s"set-up seconds: ${secs.map(s => f"$s%.3f").mkString(" ")}")
    (Stats.median(secs), last.get)
  }

  /** A progress line on standard error (the run's log). */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${Clock.nowMs / 1e3 % 1000}%.3f] $msg")

  /** Deletes a directory tree if it exists. */
  def wipe(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).toArray
    all.foreach(f => Files.deleteIfExists(f.asInstanceOf[Path]))
  }
}
