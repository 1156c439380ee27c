package perfbench

import graft.{SparkEntry, Tables}
import graft.queries.{KqlQueries, LlmQueries, PipelineQueries, RelationalQueries}
import java.nio.file.Files
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** `short_queries` and `llm_operators`: closed loop, one query at a time,
  * each built through `SparkEntry.queries(name)(spark, dir)` and written
  * to the noop sink exactly as `graft.Bench` does.
  *
  * A run measures a fixed sample of its registries: every `stride`-th query
  * of each registry in name order, so that every registry is measured. An
  * untimed first pass over the sample writes each query's result, in the
  * layout `graft.Verify` writes, for the launcher's DuckDB check
  * (`tools/local_verify.py`) and warms the JVM and the code generator up.
  * Timed passes follow, each in an order set by the seed. Their number is
  * the run's seconds over a fixed pass length (`passS`), not how many fit:
  * a query's latency is its fastest timed run, and that minimum must not
  * depend on how fast the run went. The JIT is still compiling Spark's
  * planner in the first timed passes; the minimum comes from later ones. */
object QueryLoop {
  /** Every `stride`-th query of one registry, in name order. */
  final case class Registry(label: String, names: Seq[String], stride: Int) {
    val sample: Seq[String] = names.sorted.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }
  }

  final case class Workload(registries: Seq[Registry], passS: Double) {
    val sample: Seq[String] = registries.flatMap(_.sample)
  }

  def shortQueries: Workload = Workload(Seq(
    Registry("KqlQueries", KqlQueries.queries.keys.toSeq, stride = 32),
    Registry("RelationalQueries", RelationalQueries.queries.keys.toSeq, stride = 5),
    Registry("PipelineQueries", PipelineQueries.queries.keys.toSeq, stride = 5)), passS = 2.0)
  def llmOperators: Workload =
    Workload(Seq(Registry("LlmQueries", LlmQueries.queries.keys.toSeq, stride = 19)), passS = 3.5)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(a: Args, reg: Workload): Result = {
    val res = new Result(a.workload)
    Main.wipe(a.out); Files.createDirectories(a.out)
    val spark = Main.session(a)
    // set-up: read and count every table (three times, not five: the
    // query passes need the rest of the run's time budget)
    val (setupS, _) = Main.setUp(times = 3) {
      Tables.names.foreach(t => Tables(spark, a.data, t).count())
    }(_ => ())
    res.endToEnd("setup_s") = setupS

    // ---- untimed pass: query results for the oracle check ----
    val results = a.out.resolve("results")
    Files.createDirectories(results)
    val broken = reg.sample.filterNot { name =>
      try {
        SparkEntry.queries(name)(spark, a.data).coalesce(1).write.mode("overwrite")
          .parquet(results.resolve(name).toString)
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        false
      }
    }
    val oracle = reg.sample.flatMap(n => SparkEntry.oracleSql.get(n).map(sql => s"${Json.str(n)}:${Json.str(sql)}"))
    Files.writeString(results.resolve("oracle_sql.json"), oracle.mkString("{", ",", "}"))
    Main.log("untimed pass done")

    Trace.reset()
    val rng = new scala.util.Random(a.seed)
    val passes = math.max(2, math.round(a.seconds / reg.passS).toInt)
    (0 until passes).foreach { pass =>
      rng.shuffle(reg.sample).foreach { name =>
        val op = s"$name#$pass"
        spark.sparkContext.setLocalProperty(Trace.OpKey, op)
        val start = Clock.nowMs
        var built = start
        val ok =
          try {
            val df = SparkEntry.queries(name)(spark, a.data)
            built = Clock.nowMs
            noop(df)
            true
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
            false
          }
        val end = Clock.nowMs
        spark.sparkContext.setLocalProperty(Trace.OpKey, null)
        if (!ok) res.fail(name)
        Trace.ops.add(Op(op, start, end, built))
        Trace.span(op, "queries.build", start, built, op)
        Trace.span(op, "query", start, end)
        res.attempted += 1
      }
    }
    Main.log(s"timed passes done: $passes")
    broken.filterNot(res.failures.contains).foreach(res.fail(_))
    // Per query, its fastest timed run (the min over passes, as graft.Bench
    // takes): it drops the passes a JIT or GC pause or a noisy neighbour hit.
    val ops = Trace.ops.asScala.toSeq
    val best = ops.groupBy(_.id.takeWhile(_ != '#')).values.map(_.map(o => o.endMs - o.startMs).min).toSeq
    res.endToEnd("throughput_per_s") = best.size / (best.sum / 1e3)
    res.endToEnd("op_p50_ms") = Stats.median(best)
    res.endToEnd("visible_p50_ms") = res.endToEnd("op_p50_ms")
    val q = Stats.tailQuantile(best.size)
    res.endToEnd("visible_tail_ms") = Stats.percentile(best, q)
    res.notes("visible_tail") = s"${Stats.label(q)} of ${best.size} queries' fastest runs"
    res.notes("query_ms") = ops.groupBy(_.id.takeWhile(_ != '#')).toSeq.sortBy(_._1).map { case (n, os) =>
      n + "=" + os.map(o => f"${o.endMs - o.startMs}%.0f").mkString("/")
    }.mkString(" ")
    res.notes("sample") = reg.registries.map { r =>
      s"${r.label}: ${r.sample.size} of ${r.names.size} (stride ${r.stride} by name: ${r.sample.mkString(", ")})"
    }.mkString("; ") + s"; $passes timed passes"

    if (a.trace) {
      PerfbenchAccess.drainListeners(spark.sparkContext)
      Layers.fill(res, ops, a.cores)
    }

    res
  }
}
