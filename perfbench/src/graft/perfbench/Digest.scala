package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Order-independent digest of a multiset of rows.
  *
  * Each row is rendered canonically (cells in column-name order, doubles
  * rounded to 4 decimals so partition-order float summation cannot move
  * it, NULL and NaN as `NULL`), hashed with MD5, and the 64-bit prefixes
  * are summed modulo 2^64 together with the row count. Reordering rows
  * leaves the digest unchanged; dropping or duplicating any row changes
  * it. */
object Digest {

  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NULL"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else {
      val s = new JBigDecimal(d).setScale(4, RoundingMode.HALF_EVEN).toPlainString
      if (s == "-0.0000") "0.0000" else s
    }

  def rowHash(cells: Seq[Any]): Long = {
    val md = MessageDigest.getInstance("MD5")
    val bytes = md.digest(cells.map(cell).mkString("\u001f").getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(bytes, 0, 8).getLong
  }

  /** Accumulator: feed rows (cells already in canonical column order). */
  final class Acc {
    private var n = 0L
    private var sum = 0L
    def add(cells: Seq[Any]): Unit = { n += 1; sum += rowHash(cells) }
    def count: Long = n
    def value: String = f"$n%d:$sum%016x"
  }

  def of(rows: IterableOnce[Seq[Any]]): String = {
    val acc = new Acc
    rows.iterator.foreach(acc.add)
    acc.value
  }

  /** Digest of a DataFrame's rows with columns sorted by name — the same
    * column order the DuckDB compare contract uses. */
  def ofFrame(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val names = df.columns.sorted
    val acc = new Acc
    df.select(names.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .collect().foreach(r => acc.add(r.toSeq))
    (acc.count, acc.value)
  }
}

/** The ingest workload's output check: the landed table must hold exactly
  * the distinct generated records — no row lost, none duplicated. */
object IngestCheck {
  /** Failure messages; empty when the landed rows match. */
  def verify(expected: Iterable[Seq[Any]], landed: Iterable[Seq[Any]]): Seq[String] = {
    val e = Digest.of(expected)
    val l = Digest.of(landed)
    val counts =
      if (expected.size != landed.size)
        Seq(s"landed ${landed.size} rows, expected ${expected.size} distinct records")
      else Nil
    counts ++ (if (e != l) Seq(s"landed digest $l != expected $e") else Nil)
  }
}
