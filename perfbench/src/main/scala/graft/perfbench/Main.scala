package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.{GraftSession, IngestJob}
import graft.ingest.{FastIngest, MergeBuf, MergeFastDocs, Sinks}
import graft.sources.NtReader
import graft.streaming.StreamingIngest

/** FAST ingest benchmark: drives the deploy path (`IngestJob.runAll`, and
  * `FastIngest` → `StreamingIngest.mergeBatch` for deltas) over a seeded
  * corpus, checks every written table against the generator's expected
  * rows, and prints its metrics; the last stdout line is one JSON object.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  */
object Main {

  /** Pinned on both sides of any A/B: never the engine's `local[32]`. One
    * core is left to the driver, the JIT compiler and GC: with every core
    * running tasks, `ingest_s` spread three times as much between runs.
    */
  val Cores: Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))
  /** Set-ups per run. Their median leaves out the first, colder one, and
    * their warm-ups settle the JIT before the timed reps.
    */
  val SetUps = 3

  /** Share of headings per file. An assumption, not a published count:
    * only the order follows the real dump (Personal and Topical large;
    * Chronological, Event and FormGenre small). The link and label rates
    * in `Shapes` are assumptions too.
    */
  private val DumpShare = Map(
    "FASTPersonal.nt" -> 0.32, "FASTTopical.nt" -> 0.28, "FASTGeographic.nt" -> 0.14,
    "FASTCorporate.nt" -> 0.12, "FASTEvent.nt" -> 0.06, "FASTFormGenre.nt" -> 0.04,
    "FASTChronological.nt" -> 0.04)

  val Shapes: Map[String, Corpus.Shape] = Map(
    // the every-deploy path: ~284k lines, ~33 MB
    "fast_dump" -> Corpus.Shape(headings = 30000, fileShare = DumpShare,
      droppedPerHeading = 6, termViaf = 0.1, termLc = 0.3, agentViaf = 0.4, agentLc = 0.5,
      extPerLink = 0.3, viafRows = 60000, viafMatch = 0.5,
      baseHeadings = 2000, deltas = 3, deltaHeadings = (1000, 2000)),
    // a base table, then deltas merged one by one; its small dump is
    // ingested by the traced run only
    "delta_merge" -> Corpus.Shape(headings = 2000, fileShare = DumpShare,
      droppedPerHeading = 4, termViaf = 0.1, termLc = 0.3, agentViaf = 0.4, agentLc = 0.5,
      extPerLink = 0.3, viafRows = 5000, viafMatch = 0.5,
      baseHeadings = 3000, deltas = 3, deltaHeadings = (1500, 1500)))

  /** `gen` names the generator's sources; a cached corpus made by other
    * sources is written again.
    */
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, out: Path,
                        gen: String = "")

  private def parseArgs(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Shapes.contains(w), s"unknown workload $w (one of ${Shapes.keys.toSeq.sorted.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", Paths.get(need("out")),
      kv.getOrElse("gen", ""))
  }

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args)
    // before any session: Hadoop caches the file system per JVM
    if (o.trace) System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val ((corpus, dirs), genS) = seconds {
      val c = Corpus.generate(Shapes(o.workload), o.seed)
      (c, CorpusDirs.ensure(o, c))
    }
    val work = o.out.resolve("work")
    Fs.delete(work)
    Files.createDirectories(work)
    val r = new Run(o, corpus, dirs, work)
    val res = try {
      val (_, prepS) = seconds(r.prepare())
      val res = if (o.trace) r.traced() else r.timed()
      res.copy(lines = res.lines :+ f"context prepare_s=$prepS%.2f (excluded from every metric)")
    } finally Fs.delete(work)
    res.copy(lines = res.lines :+ f"context generate_s=$genS%.2f (excluded from every metric)" :+
      f"context jvm_uptime_s=${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f").print()
  }

  // ---- small helpers ------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(): SparkSession = GraftSession.local("perfbench", Cores.toString)

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** File-system helpers over local paths. */
object Fs {
  private def closing(s: java.util.stream.Stream[Path]): Seq[Path] =
    try s.iterator().asScala.toVector finally s.close()

  def list(p: Path): Seq[Path] = closing(Files.list(p))
  def walk(p: Path): Seq[Path] = if (Files.exists(p)) closing(Files.walk(p)) else Nil

  def delete(p: Path): Unit = walk(p).reverse.foreach(Files.deleteIfExists)

  def copy(from: Path, to: Path): Unit = {
    delete(to)
    walk(from).foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
  }

  private def dataFiles(p: Path): Seq[Path] = walk(p).filter { f =>
    val n = f.getFileName.toString
    Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
  }

  /** Bytes of a table's data files (no checksums, markers or manifests). */
  def tableBytes(p: Path): Long = dataFiles(p).map(Files.size).sum
  def tableFiles(p: Path): Int = dataFiles(p).size
}

/** Generated NT files, cached on disk per (workload, seed). The `TEXT`
  * marker holds the shape and the generator's sources they were made
  * from; when either differs, the files are written again.
  */
final case class CorpusDirs(nt: Path, deltas: Path, ntBytes: Long)

object CorpusDirs {
  private val Keep = 3

  def ensure(o: Main.Opts, c: Corpus.Inputs): CorpusDirs = {
    val root = o.out.resolve("corpus")
    val dir = root.resolve(s"${o.workload}-s${o.seed}")
    val dirs = CorpusDirs(dir.resolve("nt"), dir.resolve("deltas"), 0L)
    val marker = dir.resolve("TEXT")
    val stamp = s"${c.shape}\nseed=${o.seed}\ngen=${o.gen}\n"
    if (!Files.exists(marker) || Files.readString(marker) != stamp) {
      Fs.delete(dir)
      Corpus.writeText(c, dirs.nt, dirs.deltas, o.seed)
      Files.writeString(marker, stamp)
    }
    Files.setLastModifiedTime(dir, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    // bounded cache: drop the least recently used corpora of this workload
    Fs.list(root)
      .filter(p => p.getFileName.toString.startsWith(o.workload + "-s") && p != dir)
      .sortBy(p => -Files.getLastModifiedTime(p).toMillis)
      .drop(Keep - 1).foreach(Fs.delete)
    dirs.copy(ntBytes = IngestJob.RequiredFiles.map(f => Files.size(dirs.nt.resolve(f))).sum)
  }
}

/** One benchmark run over one corpus. */
final class Run(val o: Main.Opts, val c: Corpus.Inputs, val dirs: CorpusDirs, val work: Path) {
  import Main._

  val isDelta = o.workload == "delta_merge"
  val runOut = work.resolve("runall")
  val baseTable = work.resolve("base")
  val table = work.resolve("table")
  val viafPath = work.resolve("viaf.parquet")
  var attempted, failed = 0
  val notes = mutable.ArrayBuffer.empty[String]

  // expected rows, computed once from the generator's records
  lazy val expFast = Digest.ofAll(c.expectedFast.iterator.map(Digest.fast))
  lazy val expViaf = Digest.ofAll(c.expectedViaf.iterator.map(Digest.viaf))
  lazy val baseState: Map[Int, MergeBuf] =
    Corpus.Expected.deltaDocs(c.base).map(d => d._id -> MergeFastDocs.toBuf(d)).toMap
  lazy val expBase = Digest.ofAll(baseState.valuesIterator.map(Digest.merged))
  lazy val deltaDocs = c.deltas.map(Corpus.Expected.deltaDocs)
  /** Expected merge-table digest after each delta of a rep, from the base. */
  lazy val expAfterDelta: Vector[Digest] = {
    val state = mutable.HashMap.from(baseState)
    var d = expBase
    timedDeltas.map { i =>
      deltaDocs(i).foreach { doc =>
        state.get(doc._id).foreach(old => d = d - Digest.of(Digest.merged(old)))
        val next = MergeFastDocs.mergeBuf(state.getOrElse(doc._id, null), MergeFastDocs.toBuf(doc))
        state(doc._id) = next
        d = d + Digest.of(Digest.merged(next))
      }
      d
    }
  }
  /** The last delta warms up; the others are the timed sequence of a rep. */
  def timedDeltas: Vector[Int] = (0 until c.deltas.size - 1).toVector
  def warmDelta: Int = c.deltas.size - 1
  lazy val deltaLines: Vector[Long] =
    c.deltas.indices.map(i => lineCount(Corpus.deltaFile(dirs.deltas, i))).toVector
  private def lineCount(p: Path): Long = {
    val s = Files.lines(p)
    try s.count() finally s.close()
  }

  // ---- operations ----------------------------------------------------------

  def writeViaf(spark: SparkSession): Unit = {
    import spark.implicits._
    spark.createDataset(c.dump.viaf).write.mode("overwrite").parquet(viafPath.toString)
  }

  /** Writes the VIAF parquet in a session of its own, before anything is
    * timed: every run starts its timed set-ups from the same JVM state.
    */
  def prepare(): Unit = {
    val spark = session()
    try writeViaf(spark) finally spark.stop()
  }

  def viafInput(spark: SparkSession): DataFrame = spark.read.parquet(viafPath.toString)

  def runAll(spark: SparkSession, out: Path): IngestJob.RunReport =
    IngestJob.runAll(spark, dirs.nt.toString, out.toString, Some(viafInput(spark)))

  def check(what: String, ok: Boolean, detail: => String): Boolean = {
    if (!ok) {
      val msg = s"output check failed: $what\n  $detail"
      System.err.println(msg); notes += msg
    }
    ok
  }

  /** Both tables written by `runAll` equal the expected rows. */
  def checkDump(spark: SparkSession, out: Path): Boolean = {
    val fast = Sinks.readTable(spark, out.resolve("fast").toString)
    val viaf = Sinks.readTable(spark, out.resolve("viaf").toString)
    val f = Digest.ofTable(fast, Digest.FastCols, Digest.fastRow)
    val v = Digest.ofTable(viaf, Digest.ViafCols, Digest.viafRow)
    check("fast table", f == expFast,
      Digest.diff(c.expectedFast.map(Digest.fast), fast, Digest.FastCols, Digest.fastRow)) &
      check("viaf table", v == expViaf,
        Digest.diff(c.expectedViaf.map(Digest.viaf), viaf, Digest.ViafCols, Digest.viafRow))
  }

  def checkMerged(spark: SparkSession, path: Path, expected: Digest, what: String): Boolean = {
    val t = Sinks.readTable(spark, path.toString)
    check(what, Digest.ofTable(t, Digest.MergedCols, Digest.mergedRow) == expected,
      s"rows ${expected.rows} expected")
  }

  /** Base merge table: the base file merged into an empty table. */
  def buildBase(spark: SparkSession): Unit = {
    Fs.delete(baseTable)
    StreamingIngest.mergeBatch(spark, docsFrame(spark, Corpus.baseFile(dirs.deltas), c.base.docType),
      baseTable.toString)
  }

  /** One NT file through parse, project and the A1 group, as the
    * streaming path does per micro-batch.
    */
  private def docsFrame(spark: SparkSession, file: Path, docType: String): DataFrame =
    FastIngest.buildDocs(FastIngest.project(NtReader.triples(spark, file.toString)), lit(docType))

  def deltaFrame(spark: SparkSession, i: Int): DataFrame =
    docsFrame(spark, Corpus.deltaFile(dirs.deltas, i), c.deltas(i).docType)

  def applyDelta(spark: SparkSession, i: Int, into: Path): Unit =
    StreamingIngest.mergeBatch(spark, deltaFrame(spark, i), into.toString)

  /** Session start plus the untimed warm-up (and the base build). */
  def setUp(): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = session()
    if (isDelta) {
      buildBase(spark)
      Fs.copy(baseTable, table)
      applyDelta(spark, warmDelta, table)
    } else runAll(spark, runOut)
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  def header(spark: SparkSession): Seq[String] = Seq(
    s"perfbench workload=${o.workload} seed=${o.seed} trace=${if (o.trace) 1 else 0} " +
      s"cores=$Cores driver_heap_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"shuffle_partitions=${spark.conf.get("spark.sql.shuffle.partitions")} spark=${spark.version}",
    s"input nt_lines=${c.dumpLines} nt_bytes=${dirs.ntBytes} " +
      s"headings=${Shapes(o.workload).headings} fast_docs=${c.expectedFast.size} viaf_rows=${c.dump.viaf.size} " +
      s"base_lines=${lineCount(Corpus.baseFile(dirs.deltas))} base_docs=${baseState.size} " +
      s"deltas=${c.deltas.size} delta_lines=${deltaLines.mkString(",")}")

  // ---- the untraced run ----------------------------------------------------

  def timed(): Result = {
    val setUps = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetUps).foreach { _ =>
      if (spark != null) spark.stop()
      val (s, t) = setUp()
      spark = s; setUps += t
    }
    if (isDelta) checkMerged(spark, baseTable, expBase, "base merge table")
    // runAll was still getting faster over the first timed reps
    else runAll(spark, runOut)
    val ops = mutable.ArrayBuffer.empty[(Double, Long)] // (wall, lines)
    val heaps, bytes, ctls = mutable.ArrayBuffer.empty[Double]
    // the heap peak of a rep covers its timed operations, not their checks.
    // Each operation starts on a collected heap, as the first call of a
    // deploy does, so no operation pays for the garbage of the one before.
    var heap = 0.0
    def op(body: => Unit): Double = {
      System.gc()
      resetHeapPeaks()
      val (_, t) = seconds(body)
      heap = math.max(heap, heapPeakMb)
      t
    }
    ctls += graft.Bench.control(spark)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // at least 3 runAll calls, or 2 reps of deltas, however slow the host
    val minOps = if (isDelta) 2 * timedDeltas.size else 3
    while (elapsed < o.seconds || attempted < minOps) {
      heap = 0.0
      if (isDelta) {
        Fs.copy(baseTable, table)
        timedDeltas.foreach { i =>
          attempted += 1
          val ok = try {
            val t = op(applyDelta(spark, i, table))
            ops += ((t, deltaLines(i)))
            checkMerged(spark, table, expAfterDelta(i), s"merge table after delta $i")
          } catch { case e: Exception => check(s"delta $i", ok = false, e.toString) }
          if (!ok) failed += 1
        }
        bytes += Fs.tableBytes(table).toDouble
      } else {
        attempted += 1
        val ok = try {
          val t = op(runAll(spark, runOut))
          ops += ((t, c.dumpLines))
          checkDump(spark, runOut)
        } catch { case e: Exception => check("runAll", ok = false, e.toString) }
        if (!ok) failed += 1
        bytes += (Fs.tableBytes(runOut.resolve("fast")) + Fs.tableBytes(runOut.resolve("viaf"))).toDouble
      }
      heaps += heap
      ctls += graft.Bench.control(spark)
    }
    val walls = ops.map(_._1).toVector
    val lines = header(spark) ++ Seq(
      f"ops ${ops.size} timed in ${elapsed}%.1f s",
      s"context ctl_s=${median(ctls.toSeq)} (median of ${ctls.size} control jobs, min ${ctls.min} max ${ctls.max})")
    val merge = if (isDelta) {
      // the tail: the highest percentile with at least 10 samples beyond it
      val s = walls.sorted
      s"context merge_batch_s=${median(walls)} s (median of ${s.size} deltas)" +:
        (if (s.size > 10) Seq(f"context merge_batch_tail_s=${s(s.size - 11)} s " +
          f"(p${100.0 * (s.size - 10) / s.size}%.0f of ${s.size} deltas)")
        else Seq(s"context merge_batch_tail_s unavailable: ${s.size} deltas, a tail needs more than 10"))
    } else Nil
    spark.stop()
    Result(lines ++ merge, attempted, failed, notes.toSeq, Seq(
      Metric("setup_s", median(setUps.toSeq), "s"),
      Metric("ingest_s", median(walls), "s"),
      Metric("lines_per_s", median(ops.map { case (t, n) => n / t }.toSeq), "1/s"),
      Metric("peak_heap_mb", median(heaps.toSeq), "MB"),
      Metric("table_bytes", median(bytes.toSeq), "bytes")),
      Seq(s"setup_s samples: ${setUps.mkString(" ")}", s"op samples: ${walls.mkString(" ")}",
        s"peak_heap_mb samples: ${heaps.mkString(" ")}"))
  }

  // ---- the traced run ------------------------------------------------------

  def traced(): Result = new Traced(this).run()
}

final case class Metric(name: String, value: Double, unit: String)

final case class Result(lines: Seq[String], attempted: Int, failed: Int, notes: Seq[String],
                        metrics: Seq[Metric], extra: Seq[String] = Nil) {
  def print(): Unit = {
    lines.foreach(println)
    extra.foreach(l => println("# " + l))
    metrics.foreach(m => println(s"metric ${m.name}=${m.value} ${m.unit}"))
    println(s"ops attempted_ops=$attempted failed_ops=$failed")
    val ms = metrics.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && notes.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}""")
  }
}
