package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, FileInputStream}
import java.util.zip.GZIPInputStream
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import scala.jdk.CollectionConverters._

/** Reads back what the sink landed in the local table directories. Every
  * generated value starts with two numbers: its partition and its offset
  * (or, for `sink_backfill`, its sequence number within the first pass),
  * so a landed record is identified by its table (= topic), those two
  * numbers and the hash of its value bytes. */
object Landed {
  /** Spark's `xxhash64` of a binary value. */
  def hash(b: Array[Byte]): Long = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  /** The first two value fields (partition, offset or sequence number) and
    * the value hash of every record in one landed file. */
  def readFile(path: String): Vector[(Int, Long, Long)] = {
    val in = new GZIPInputStream(new BufferedInputStream(new FileInputStream(path), 1 << 16), 1 << 16)
    try {
      if (path.endsWith(".avro.gz")) {
        val reader = new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
        val schema = reader.getSchema
        val writer = new GenericDatumWriter[GenericRecord](schema)
        val (f0, f1) = (schema.getFields.get(0).name, schema.getFields.get(1).name)
        val bos = new ByteArrayOutputStream(256)
        var enc: org.apache.avro.io.BinaryEncoder = null
        reader.iterator().asScala.map { r =>
          bos.reset()
          enc = EncoderFactory.get().binaryEncoder(bos, enc)
          writer.write(r, enc)
          enc.flush()
          (r.get(f0).asInstanceOf[Int], r.get(f1).asInstanceOf[Long], hash(bos.toByteArray))
        }.toVector
      } else {
        val bytes = in.readAllBytes()
        val out = Vector.newBuilder[(Int, Long, Long)]
        var start = 0
        var i = 0
        while (i < bytes.length) {
          if (bytes(i) == '\n') {
            val line = java.util.Arrays.copyOfRange(bytes, start, i)
            val (p, o) = coordinates(line)
            out += ((p, o, hash(line)))
            start = i + 1
          }
          i += 1
        }
        out.result()
      }
    } finally in.close()
  }

  /** The first two numbers of a JSON (`{"kp":1,"ko":2,...`) or CSV
    * (`1,2,...`) value. */
  private def coordinates(line: Array[Byte]): (Int, Long) = {
    var i = 0
    def number(): Long = {
      while (i < line.length && !Character.isDigit(line(i))) i += 1
      var v = 0L
      while (i < line.length && Character.isDigit(line(i))) { v = v * 10 + (line(i) - '0'); i += 1 }
      v
    }
    val p = number().toInt
    (p, number())
  }

  /** Per accepted ingest call: ms from the start of the operation that
    * produced the file to ingest accepted, weighted by its records. */
  def visibleMs(ops: Seq[Op]): Seq[(Double, Long)] = {
    val start = ops.map(o => o.id -> o.startMs).toMap
    Trace.ingests.asScala.toSeq.filter(c => c.accepted && start.contains(c.op))
      .map(c => (c.endMs - start(c.op), c.records))
  }

  /** The highest of p99, p90, p80 and p50 of a record-weighted latency
    * sample that still has at least ten of the `files` that landed those
    * records beyond it (a file is the unit that lands, so it is the sample
    * the rule counts); notes the percentile used. */
  def weightedTail(xs: Seq[(Double, Long)], files: Int, res: Result, note: String): Double = {
    val q = Stats.tailQuantile(files)
    res.notes(note) = s"${Stats.label(q)} of ${xs.map(_._2).sum} records in $files files"
    Stats.weightedPercentile(xs, q)
  }
}
