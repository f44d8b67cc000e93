package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.CopyTarget

/** Result checks that run inside every benchmark run.
  *
  * A query's fingerprint is its row count plus the sum of
  * `xxhash64(struct(*))` over its rows. Hashing every column keeps the
  * optimizer from pruning projections, which a bare `count()` would let
  * it do. Doubles are hashed at float precision so that a last-bit
  * difference from a reordered floating-point sum does not count as a
  * wrong answer; maps are hashed as their key-sorted entry arrays, since
  * Spark refuses to hash a map.
  */
object Check {

  /** The one-row (count, hash sum) frame over `df`. */
  def fingerprintFrame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => stable(col(quote(f.name)), f.dataType))
    df.select(xxhash64(struct(cols: _*)).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
  }

  def collect(fp: DataFrame): (Long, String) = {
    val row = fp.collect().head
    val h = if (row.isNullAt(1)) "0" else row.getDecimal(1).toBigInteger.toString
    (row.getLong(0), h)
  }

  private def quote(name: String): String = "`" + name.replace("`", "``") + "`"

  private def stable(c: Column, dt: DataType): Column = dt match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(et, _) if needs(et) => transform(c, x => stable(x, et))
    case st: StructType if needs(st) =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toSeq.map(f =>
        stable(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      val entry = StructType(Seq(StructField("key", kt), StructField("value", vt)))
      stable(array_sort(map_entries(c)), ArrayType(entry))
    case _ => c
  }

  private def needs(dt: DataType): Boolean = dt match {
    case DoubleType | _: MapType => true
    case ArrayType(et, _) => needs(et)
    case st: StructType => st.fields.exists(f => needs(f.dataType))
    case _ => false
  }

  /** 64-bit FNV-1a of one COPY text line. */
  def lineHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes(UTF_8)
    var i = 0
    while (i < b.length) {
      h ^= (b(i) & 0xff)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Lines, order-independent hash (wrapping sum of [[lineHash]]) and bytes
    * of every COPY text part-file under `dir`. `rewrite` maps a line
    * before hashing (the split corpus undoes its key shift with it).
    */
  final case class TextSummary(lines: Long, hash: Long, bytes: Long)

  def copyText(dir: java.io.File, rewrite: String => String = identity): TextSummary = {
    val parts = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)
    var lines, hash, bytes = 0L
    parts.foreach { f =>
      bytes += f.length()
      val in = java.nio.file.Files.newBufferedReader(f.toPath, UTF_8)
      try {
        var line = in.readLine()
        while (line != null) {
          lines += 1
          hash += lineHash(rewrite(line))
          line = in.readLine()
        }
      } finally in.close()
    }
    TextSummary(lines, hash, bytes)
  }
}

/** In-process COPY target: counts what `CopySink.copyInto` sends and
  * hashes it the same way [[Check.copyText]] hashes the COPY files. The
  * counters are JVM-wide, which is where every task runs under a local
  * master.
  */
class CountingTarget extends CopyTarget {
  def copyIn(table: String, columns: Seq[String], lines: Seq[String],
      delimiter: String, nullAs: String): Long = {
    var h = 0L
    lines.foreach(l => h += Check.lineHash(l))
    CountingTarget.batches.incrementAndGet()
    CountingTarget.lines.addAndGet(lines.size)
    CountingTarget.hash.addAndGet(h)
    lines.size.toLong
  }
}

object CountingTarget {
  val batches, lines, hash = new AtomicLong()
  def reset(): Unit = Seq(batches, lines, hash).foreach(_.set(0L))
}
