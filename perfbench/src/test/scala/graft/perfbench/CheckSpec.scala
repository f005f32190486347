package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Sinks
import graft.streaming.StreamingIngest

/** The benchmark's output check: it accepts the engine's tables for a small
  * seeded corpus and rejects them once a single row is corrupted.
  */
class CheckSpec extends AnyFunSuite {

  private def withRun(workload: String)(body: (Run, org.apache.spark.sql.SparkSession) => Unit): Unit = {
    val out = Files.createTempDirectory("perfbench-check")
    val o = Main.Opts(workload, 7L, 1, trace = false, out)
    val c = Corpus.generate(Main.Shapes(workload).copy(headings = 400, viafRows = 800), 7L)
    val r = new Run(o, c, CorpusDirs.ensure(o, c), out.resolve("work"))
    val spark = Main.session()
    try { r.writeViaf(spark); body(r, spark) }
    finally { spark.stop(); Fs.delete(out) }
  }

  test("runAll tables pass; one corrupted fast or viaf row fails") {
    withRun("fast_dump") { (r, spark) =>
      r.runAll(spark, r.runOut)
      assert(r.checkDump(spark, r.runOut))
      val fast = Sinks.readTable(spark, r.runOut.resolve("fast").toString)
      val viaf = Sinks.readTable(spark, r.runOut.resolve("viaf").toString)
      val victim = fast.agg(min("_id")).head().getInt(0)
      val bad = r.work.resolve("bad")
      fast.withColumn("prefLabel",
          when(col("_id") === victim, concat(coalesce(col("prefLabel"), lit("")), lit("!")))
            .otherwise(col("prefLabel")))
        .write.partitionBy("type").parquet(bad.resolve("fast").toString)
      Fs.copy(r.runOut.resolve("viaf"), bad.resolve("viaf"))
      assert(!r.checkDump(spark, bad))

      val updated = viaf.where(size(col("fast")) > 0).agg(min("_id")).head().getString(0)
      val bad2 = r.work.resolve("bad2")
      Fs.copy(r.runOut.resolve("fast"), bad2.resolve("fast"))
      viaf.withColumn("fast", when(col("_id") === updated, slice(col("fast"), 2, 1000))
          .otherwise(col("fast")))
        .write.parquet(bad2.resolve("viaf").toString)
      assert(!r.checkDump(spark, bad2))
    }
  }

  test("merged table passes after a delta; one corrupted row fails") {
    withRun("delta_merge") { (r, spark) =>
      r.buildBase(spark)
      assert(r.checkMerged(spark, r.baseTable, r.expBase, "base"))
      val i = r.timedDeltas.head
      Fs.copy(r.baseTable, r.table)
      r.applyDelta(spark, i, r.table)
      assert(r.checkMerged(spark, r.table, r.expAfterDelta(i), "after delta"))
      val t = Sinks.readTable(spark, r.table.toString)
      val victim = t.agg(max("_id")).head().getInt(0)
      val bad = r.work.resolve("bad")
      t.withColumn("_bestRich", when(col("_id") === victim, col("_bestRich") + 1)
          .otherwise(col("_bestRich")))
        .write.partitionBy("_bucket").parquet(bad.toString)
      assert(!r.checkMerged(spark, bad, r.expAfterDelta(i), "corrupted"))
    }
  }
}
