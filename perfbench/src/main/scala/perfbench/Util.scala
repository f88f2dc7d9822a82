package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Row count plus an order-independent hash of a result: the wrapping sum
  * of one xxhash64 per row. Columns are taken in name order and rendered to
  * text first, doubles at ten significant digits, so the digest does not
  * depend on column order, row order, partitioning or float summation
  * order. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = s"$rows rows, hash $hash"
}

object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case _: ArrayType | _: StructType | _: MapType => to_json(c)
    case _ => c.cast(StringType)
  }

  /** The digest of `df`, computed by one Spark action. */
  def of(df: DataFrame): Digest = {
    val fs = df.schema.fields.sortBy(_.name)
    val h = xxhash64(fs.map(f => coalesce(canon(df.col(s"`${f.name}`"), f.dataType),
      lit("\u0000"))).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1) + (r.getLong(2) << 32))
  }

  /** The same digest computed on the driver from rows held in memory (the
    * reference models' side), without Spark. Covers the column types the
    * models hold. */
  def ofRows(schema: StructType, rows: Iterable[Row]): Digest = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    var n = 0L; var sum = 0L
    rows.foreach { r =>
      var h = 42L
      cols.foreach { case (f, k) =>
        val s = if (r.isNullAt(k)) "\u0000" else f.dataType match {
          case DoubleType | FloatType =>
            String.format(java.util.Locale.US, "%.9e", Double.box(r.getAs[Number](k).doubleValue))
          case _ => r.get(k).toString
        }
        val b = s.getBytes(StandardCharsets.UTF_8)
        h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
      }
      n += 1; sum += h
    }
    Digest(n, sum)
  }
}

/** Thrown when an operation's output does not match its expected value. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def equal[T](what: String, got: T, want: T): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
  def that(what: String, ok: Boolean): Unit =
    if (!ok) throw new CheckFailed(what)
}

/** Minimal JSON writer for the run record (no JSON library on the
  * classpath is part of the program's API). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

object FileTree {
  /** Total bytes of the regular files under `p` (0 when absent). */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Regular files under `p` with their sizes. */
  def filesUnder(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}
