package perfbench

import graft.ingest.{IngestClient, IngestTarget, IngestionStatus, TransientIngestException}
import graft.sink.StagedFile
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** The benchmark's wrapper around an [[IngestClient]]: records every call
  * at the ingest boundary (an [[IngestCall]]) and, when `failFirst` or
  * `failAll` are non-zero, injects transient failures. A staged file whose
  * seeded hash falls below `failAll` fails every attempt (so the managed
  * client falls back to queued ingest); one below `failFirst + failAll`
  * fails only its first attempt (so the streaming retry succeeds).
  * `queued` marks the wrapper that sits on the queued (fallback) path. */
final class TimedIngest(under: IngestClient, seed: Long, failFirst: Double = 0.0,
                        failAll: Double = 0.0, queued: Boolean = false) extends IngestClient {

  def ingest(file: StagedFile, target: IngestTarget): IngestionStatus = {
    val start = Clock.nowMs
    val path = Path.of(file.path)
    val mtime = Files.getLastModifiedTime(path).toMillis.toDouble
    val gz = Files.size(path)
    val (topic, partition, _) = TimedIngest.coordinates(path)
    val u = TimedIngest.unit(seed, path.getFileName.toString)
    val attempt = TimedIngest.attempts.computeIfAbsent(file.path, _ => new AtomicInteger).incrementAndGet()
    val inject = u < failAll || (u < failAll + failFirst && attempt == 1)
    val op = Trace.currentTaskOp()
    def log(accepted: Boolean): Unit = {
      val end = Clock.nowMs
      Trace.ingests.add(IngestCall(op, start, end, topic, partition, file.firstOffset,
        file.lastOffset, file.numRecords, file.rawBytes, gz, mtime, accepted, inject, queued))
      Trace.span(op, if (queued) "ingest.queued" else "ingest", start, end, op)
    }
    if (inject) {
      log(accepted = false)
      throw new TransientIngestException(s"injected transient failure on ${path.getFileName}")
    }
    val status =
      try under.ingest(file, target)
      catch { case e: Throwable => log(accepted = false); throw e }
    log(IngestionStatus.accepted(status))
    status
  }

  override def close(): Unit = under.close()
}

object TimedIngest {
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  private val Name = "kafka_(.+)_(\\d+)_(\\d+)\\.[a-z]+\\.gz".r

  def reset(): Unit = attempts.clear()

  /** Topic, partition and first offset from a staged file's name. */
  def coordinates(p: Path): (String, Int, Long) = p.getFileName.toString match {
    case Name(t, part, first) => (t, part.toInt, first.toLong)
    case other => sys.error(s"unexpected staged file name $other")
  }

  /** A uniform [0, 1) draw fixed by the seed and the file name. */
  def unit(seed: Long, name: String): Double = {
    val h = scala.util.hashing.MurmurHash3.stringHash(name, seed.toInt ^ 0x5bd1e995)
    (h.toLong & 0xffffffffL) / 4294967296.0
  }
}
