package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.IngestJob
import graft.ingest.{FastIngest, Sinks}
import graft.sources.NtReader
import graft.streaming.StreamingIngest

/** The traced run: per-layer numbers for one workload. Never the source of
  * an end-to-end metric.
  *
  *  1. untraced and traced `runAll` calls, in ABBA order: their difference
  *     is the tracing overhead;
  *  2. the traced `runAll` span: the real call's driver/job split;
  *  3. each layer forced on its own (a `noop` write) over its input,
  *     already materialized, so the layer's span is its self time;
  *  4. the merge layer: the base file merged into an empty table, then
  *     each timed delta merged into it from materialized docs.
  */
final class Traced(r: Run) {
  import Main._

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** Bucket directory → its data file names. */
  private def buckets(table: Path): Map[String, Set[String]] =
    if (!Files.exists(table)) Map.empty
    else Fs.list(table).filter(_.getFileName.toString.startsWith("_bucket="))
      .map(b => b.getFileName.toString ->
        Fs.list(b).map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet)
      .toMap

  def run(): Result = {
    val (spark, startS) = seconds(session())
    val sc = spark.sparkContext
    val ms = Seq.newBuilder[Metric]
    def m(name: String, v: Double, unit: String): Unit = ms += Metric(name, v, unit)
    m("session.start_s", startS, "s")

    // 1. warm-up, then untraced and traced calls, all overwriting the same
    // tables; the listener is attached for the traced ones only
    r.runAll(spark, r.runOut)
    val tracer = new Tracer(sc)
    def untraced() = seconds(r.runAll(spark, r.runOut))._2
    def traced(i: Int) = {
      sc.addSparkListener(tracer)
      try tracer.span(s"runAll-$i", "runAll")(r.runAll(spark, r.runOut))._2
      finally sc.removeSparkListener(tracer)
    }
    // ABBA order, so a still-warming JVM favours neither side
    val pairs = Seq({ val u = untraced(); (u, traced(1)) }, { val t = traced(2); (untraced(), t) })
    val untracedS = median(pairs.map(_._1))
    // 2. the real call: the faster traced span
    val all = pairs.map(_._2).sortBy(_.wallS).head
    sc.addSparkListener(tracer)
    r.attempted += 1
    if (!r.checkDump(spark, r.runOut)) r.failed += 1

    // 3. layers, each over its materialized input
    val files = IngestJob.RequiredFiles.map(f => r.dirs.nt.resolve(f).toString)
    val (_, nt) = tracer.span("layers", "nt")(noop(NtReader.triplesTagged(spark, files: _*)))
    val (triples, nTriples) = materialize(NtReader.triplesTagged(spark, files: _*))
    val (_, proj) = tracer.span("layers", "project")(noop(FastIngest.project(triples)))
    val (frags, nFrags) = materialize(FastIngest.project(triples))
    val termFrags = frags.where(col("doc_type").isin(Corpus.TermTypes.toSeq: _*))
    val grouped = FastIngest.buildDocsTagged(termFrags)
      .where(!(col("type") === "Event" && size(col("sameAsViaf")) > 0))
    val (_, group) = tracer.span("layers", "group")(noop(grouped))
    val (termDocs, nDocs) = materialize(grouped)
    val nTermFastFrags = termFrags.where(col("kind") === "fast").count()
    val labels = FastIngest.sameAsLabels(frags)
    val enriched = FastIngest.enrich(termDocs, labels)
    val (_, enrich) = tracer.span("layers", "enrich")(noop(enriched))
    val (docs, _) = materialize(enriched)
    val probes = termDocs.select(explode(concat(col("sameAsViaf"), col("sameAsLc"))).as("uri"))
    val nProbes = probes.count()
    val nHits = probes.join(labels.select("subject"), col("uri") === col("subject")).count()
    val viafIn = r.viafInput(spark)
    val updated = FastIngest.viafUpdate(
      FastIngest.agentOtherIds(frags.where(col("doc_type").isin(Corpus.AgentTypes.toSeq: _*))), viafIn)
    val (_, viaf) = tracer.span("layers", "viaf")(noop(updated))
    val (upd, nViaf) = materialize(updated)
    val nChanged = upd.as("u").join(viafIn.as("v"), col("u._id") === col("v._id"))
      .where(!(col("u.fast") <=> col("v.fast"))).count()
    val layerOut = r.work.resolve("layers")
    val (reports, sink) = tracer.span("layers", "sink") {
      (Sinks.writeFast(docs, layerOut.resolve("fast").toString),
        Sinks.writeViaf(upd, layerOut.resolve("viaf").toString))
    }
    r.attempted += 1
    if (!r.checkDump(spark, layerOut)) r.failed += 1
    Seq(triples, frags, termDocs, docs, upd).foreach(_.unpersist(true))

    // 4. merges
    val mtable = r.baseTable
    val (_, base) = tracer.span("merge", "merge.base")(r.buildBase(spark))
    r.attempted += 1
    if (!r.checkMerged(spark, mtable, r.expBase, "base merge table")) r.failed += 1
    val merges = r.timedDeltas.map { i =>
      val (d, _) = materialize(r.deltaFrame(spark, i))
      val docBytes = {
        val p = r.work.resolve(s"delta-docs-$i")
        d.write.parquet(p.toString)
        Fs.tableBytes(p)
      }
      val before = buckets(mtable)
      val (_, s) = tracer.span(s"delta-$i", "merge")(StreamingIngest.mergeBatch(spark, d, mtable.toString))
      val after = buckets(mtable)
      d.unpersist(true)
      r.attempted += 1
      if (!r.checkMerged(spark, mtable, r.expAfterDelta(i), s"merge table after delta $i")) r.failed += 1
      val touched = after.count { case (b, fs) => !before.get(b).contains(fs) }
      (s, touched.toDouble / math.max(1, after.size), s.outputBytes.toDouble / docBytes)
    }
    sc.removeSparkListener(tracer)

    val layers = Seq(nt, proj, group, enrich, viaf, sink)
    // the layers' time inside Spark jobs: each forced layer also pays its
    // own planning, which the real call pays once, in runAll.driver_s
    val layerJobS = layers.map(l => l.wallS - l.driverS).sum
    m("nt.self_s", nt.wallS, "s"); m("nt.task_s", nt.taskS, "s")
    m("nt.lines_in", nt.inputRecords.toDouble, "count"); m("nt.triples_out", nTriples.toDouble, "count")
    m("nt.parse_ok_ratio", nTriples.toDouble / math.max(1L, nt.inputRecords), "ratio")
    m("nt.task_skew", nt.taskSkew, "ratio")
    m("project.self_s", proj.wallS, "s"); m("project.task_s", proj.taskS, "s")
    m("project.kept_ratio", nFrags.toDouble / math.max(1L, nTriples), "ratio")
    m("group.self_s", group.wallS, "s"); m("group.task_s", group.taskS, "s")
    m("group.shuffle_write_bytes", group.shuffleWriteBytes.toDouble, "bytes")
    m("group.fragments_per_doc", nTermFastFrags.toDouble / math.max(1L, nDocs), "ratio")
    m("enrich.self_s", enrich.wallS, "s")
    m("enrich.shuffle_write_bytes", enrich.shuffleWriteBytes.toDouble, "bytes")
    m("enrich.match_ratio", nHits.toDouble / math.max(1L, nProbes), "ratio")
    m("viaf.self_s", viaf.wallS, "s"); m("viaf.task_s", viaf.taskS, "s")
    m("viaf.shuffle_write_bytes", viaf.shuffleWriteBytes.toDouble, "bytes")
    m("viaf.match_ratio", nChanged.toDouble / math.max(1L, nViaf), "ratio")
    m("sink.self_s", sink.wallS, "s")
    m("sink.rows_written", (reports._1.rows + reports._2.rows).toDouble, "count")
    m("sink.bytes_written", sink.outputBytes.toDouble, "bytes")
    m("sink.files_written", (Fs.tableFiles(layerOut.resolve("fast")) + Fs.tableFiles(layerOut.resolve("viaf"))).toDouble, "count")
    m("runAll.wall_s", all.wallS, "s"); m("runAll.untraced_s", untracedS, "s")
    m("runAll.driver_s", all.driverS, "s")
    m("runAll.jobs", all.jobs.toDouble, "count"); m("runAll.stages", all.stages.toDouble, "count")
    m("runAll.tasks", all.tasks.toDouble, "count"); m("runAll.task_s", all.taskS, "s")
    m("runAll.cpu_busy", all.taskS / (all.wallS * Cores), "ratio")
    m("runAll.input_scan_ratio", all.ntBytesRead.toDouble / r.dirs.ntBytes, "ratio")
    m("runAll.cache_bytes", all.cachePeakBytes.toDouble, "bytes")
    m("runAll.layer_job_s", layerJobS, "s")
    m("runAll.accounted_ratio", (layerJobS + all.driverS) / all.wallS, "ratio")
    m("runAll.traced_ratio", median(pairs.map(_._2.wallS)) / untracedS, "ratio")
    m("merge.base_s", base.wallS, "s")
    m("merge.self_s", median(merges.map(_._1.wallS)), "s")
    m("merge.driver_s", median(merges.map(_._1.driverS)), "s")
    m("merge.jobs", median(merges.map(_._1.jobs.toDouble)), "count")
    m("merge.touched_bucket_ratio", median(merges.map(_._2)), "ratio")
    m("merge.write_amp", median(merges.map(_._3)), "ratio")

    val traceFile = r.o.out.resolve("traces").resolve(s"${r.o.workload}-s${r.o.seed}.json")
    Files.createDirectories(traceFile.getParent)
    Files.writeString(traceFile, tracer.json)
    // differences and counts that are often 0 or negative: context only
    val lines = r.header(spark) ++ Seq(
      s"trace ${tracer.all.size} spans written to $traceFile",
      f"context runAll.remainder_s=${all.wallS - layerJobS - all.driverS}%.3f " +
        "(runAll.wall_s - layer_job_s - driver_s)",
      f"context runAll.trace_overhead_s=${median(pairs.map(_._2.wallS)) - untracedS}%.3f",
      s"context group.spill_bytes=${group.spillBytes} runAll.spill_bytes=${all.spillBytes}")
    spark.stop()
    Result(lines, r.attempted, r.failed, r.notes.toSeq, ms.result())
  }
}
