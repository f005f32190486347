package graft.perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

import graft.ingest.MergeBuf
import graft.model.{FastDoc, ViafDoc}

/** Order-independent table digest: row count plus two wrapping sums of
  * 64-bit row hashes over a canonical text form of each row. Expected rows
  * (plain Scala) and written rows (read back from parquet) are encoded by
  * the same functions here, so the check never trusts an engine result.
  * Array order is part of the encoding: the tables store sorted arrays.
  */
final case class Digest(rows: Long, a: Long, b: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, a + o.a, b + o.b)
  def -(o: Digest): Digest = Digest(rows - o.rows, a - o.a, b - o.b)
}

object Digest {
  val Zero: Digest = Digest(0, 0, 0)

  def of(canonical: String): Digest = {
    def h64(s1: Int, s2: Int) =
      (MurmurHash3.stringHash(canonical, s1).toLong << 32) |
        (MurmurHash3.stringHash(canonical, s2).toLong & 0xffffffffL)
    Digest(1, h64(0x1b873593, 0x5bd1e995), h64(0x27d4eb2f, 0x165667b1))
  }

  def ofAll(rows: Iterator[String]): Digest = rows.map(of).foldLeft(Zero)(_ + _)

  private def str(s: String): String = if (s == null) "\u0002" else s
  private def arr(xs: collection.Seq[_]): String =
    if (xs == null) "\u0002" else xs.size.toString + "\u0003" + xs.map(x => str(String.valueOf(x))).mkString("\u0003")

  private def fastKey(id: Int, fast: Int, typ: String, pref: String, alt: collection.Seq[String],
                      lc: collection.Seq[String], viaf: collection.Seq[String],
                      norm: collection.Seq[String]): String =
    Seq(id.toString, fast.toString, str(typ), str(pref), arr(alt), arr(lc), arr(viaf), arr(norm))
      .mkString("\u0001")

  // ---- the `fast` table ----
  val FastCols: Seq[String] =
    Seq("_id", "fast", "type", "prefLabel", "altLabel", "sameAsLc", "sameAsViaf", "normalized")
  def fast(d: FastDoc): String =
    fastKey(d._id, d.fast, d.`type`, d.prefLabel, d.altLabel, d.sameAsLc, d.sameAsViaf, d.normalized)
  def fastRow(r: Row): String =
    fastKey(r.getInt(0), r.getInt(1), r.getString(2), r.getString(3), r.getSeq[String](4),
      r.getSeq[String](5), r.getSeq[String](6), r.getSeq[String](7))

  // ---- the `viaf` table ----
  val ViafCols: Seq[String] = Seq("_id", "viaf", "lcId", "fast")
  def viaf(v: ViafDoc): String = Seq(str(v._id), str(v.viaf), str(v.lcId), arr(v.fast)).mkString("\u0001")
  def viafRow(r: Row): String =
    Seq(str(r.getString(0)), str(r.getString(1)), str(r.getString(2)),
      arr(if (r.isNullAt(3)) null else r.getSeq[Int](3))).mkString("\u0001")

  // ---- the merge-layout `fast` table (finished doc + best-contributor bookkeeping) ----
  val MergedCols: Seq[String] = FastCols ++ Seq("_bestRich", "_bestType", "_bestPref", "_fillPref")
  def merged(b: MergeBuf): String = {
    val d = graft.ingest.MergeFastDocs.finishBuf(b)
    fast(d) + "\u0001" + Seq(b.bestRich.toString, str(b.bestType), str(b.bestPref), str(b.fillPref))
      .mkString("\u0001")
  }
  def mergedRow(r: Row): String =
    fastRow(r) + "\u0001" + Seq(r.getInt(8).toString, str(r.getString(9)), str(r.getString(10)),
      str(r.getString(11))).mkString("\u0001")

  /** Digest of a written table; rows are hashed inside the tasks. */
  def ofTable(df: DataFrame, cols: Seq[String], enc: Row => String): Digest =
    df.select(cols.map(df.col): _*).rdd
      .mapPartitions(it => Iterator(ofAll(it.map(enc))))
      .fold(Zero)(_ + _)

  /** A few rows present on one side only, for the failure message. */
  def diff(expected: Seq[String], df: DataFrame, cols: Seq[String], enc: Row => String): String = {
    val actual = df.select(cols.map(df.col): _*).collect().map(enc).toSet
    val exp = expected.toSet
    def show(xs: Set[String]) = xs.take(3).map(_.replace('\u0001', '|')).mkString("\n    ")
    s"missing ${(exp -- actual).size}:\n    ${show(exp -- actual)}\n  unexpected ${(actual -- exp).size}:\n    ${show(actual -- exp)}"
  }
}
