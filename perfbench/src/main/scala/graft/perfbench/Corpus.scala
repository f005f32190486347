package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.functions.Normalize
import graft.ingest.{MergeBuf, MergeFastDocs}
import graft.model.{FastDoc, ViafDoc}

/** Seeded FAST-shaped corpus: the 7-file N-Triples dump, a matching VIAF
  * table and a sequence of delta files, plus the rows the engine must
  * produce from them, computed here in plain Scala from the generator's own
  * records (never from the engine's output).
  *
  * Line families per heading: prefLabel (or only an rdfs:label), altLabels,
  * LC / VIAF / other `sameAs` links, external `rdfs:label` lines on the link
  * targets (sometimes in another file), and predicates the P2/P3 projection
  * drops. Each file also carries malformed lines, `/fast/NaN` lines and
  * non-numeric ids. Literals mix raw UTF-8, `\uXXXX` and `\"`/`\\` escapes
  * and `@lang` / `^^<datatype>` suffixes. Characters stay below U+D800, so
  * Java string order equals the engine's UTF-8 byte order.
  */
object Corpus {

  val PrefLabel = "http://www.w3.org/2004/02/skos/core#prefLabel"
  val AltLabel = "http://www.w3.org/2004/02/skos/core#altLabel"
  val RdfsLabel = "http://www.w3.org/2000/01/rdf-schema#label"
  val SameAs = "http://schema.org/sameAs"
  private val FastBase = "http://id.worldcat.org/fast/"
  private val ViafBase = "http://viaf.org/viaf/"
  private val LcBase = "http://id.loc.gov/authorities/names/"
  private val WikiBase = "http://www.wikidata.org/entity/Q"

  /** file name → doc type, in the engine's P7 naming. */
  val FileTypes: Seq[(String, String)] = Seq(
    "FASTChronological.nt" -> "Chronological", "FASTCorporate.nt" -> "Corporate",
    "FASTEvent.nt" -> "Event", "FASTFormGenre.nt" -> "Form",
    "FASTGeographic.nt" -> "Geographic", "FASTPersonal.nt" -> "Personal",
    "FASTTopical.nt" -> "Topical")
  /** Doc types of `runAll`'s term path (with the TermEvent pass) and agent path. */
  val TermTypes = Set("Chronological", "Event", "Form", "Geographic", "Topical")
  val AgentTypes = Set("Corporate", "Event", "Personal")

  // ---- records -----------------------------------------------------------

  /** One generated line; `Other` lines parse (or not) but feed no output. */
  sealed trait Rec
  final case class Lit(id: Int, pred: String, value: String) extends Rec
  final case class Iri(id: Int, pred: String, uri: String) extends Rec
  final case class Ext(subject: String, value: String) extends Rec
  final case class Other(line: String, parses: Boolean) extends Rec

  /** Workload shape. Shares are of headings; rates are per heading. */
  final case class Shape(
      headings: Int,
      fileShare: Map[String, Double],
      droppedPerHeading: Int,  // mean dropped-predicate triples per heading
      termViaf: Double, termLc: Double,
      agentViaf: Double, agentLc: Double,
      extPerLink: Double,      // mean external rdfs:label lines per link
      viafRows: Int,
      viafMatch: Double,       // share of agent link targets with a VIAF row
      baseHeadings: Int,       // the merge table's base file
      deltas: Int, deltaHeadings: (Int, Int))

  final case class Dump(files: Seq[(String, String, Vector[Rec])], viaf: Vector[ViafDoc])
  final case class Delta(docType: String, recs: Vector[Rec])

  /** The dump feeds `runAll`; `base` is merged into an empty table and
    * `deltas` are merged into that, in order.
    */
  final case class Inputs(shape: Shape, dump: Dump, base: Delta, deltas: Vector[Delta]) {
    lazy val expectedFast: Vector[FastDoc] = Expected.fast(dump)
    lazy val expectedViaf: Vector[ViafDoc] = Expected.viaf(dump)
    def dumpLines: Long = dump.files.map(_._3.size.toLong).sum
  }

  // ---- generation ----------------------------------------------------------

  private val Words = Vector(
    "history", "churches", "policies", "boxes", "children", "glass", "virus",
    "women", "maps", "art", "music", "science", "war", "poetry", "law",
    "railroads", "bridges", "Café", "Müller", "Señor", "Zoë", "Ångström",
    "Çelik", "Øresund", "naïve", "façade", "Dvořák", "Łódź", "Ælfric",
    "geese", "mice", "libraries", "studies", "taxes", "wishes", "analysis",
    "economics", "gas", "families", "people", "New", "York", "Paris",
    "conference", "society", "university", "council", "1914", "1918", "XX")
  private val Punct = Vector(", ", " -- ", "; ", " (", ") ", " & ", "/", ": ", "'s ", " \"", "\" ", " \\ ")
  private val Suffixes = Vector("", "", "", "@en", "@fr-CA", "^^<http://www.w3.org/2001/XMLSchema#string>")
  private val Dropped = Vector(
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
    "http://www.w3.org/2004/02/skos/core#inScheme",
    "http://www.w3.org/2004/02/skos/core#broader",
    "http://www.w3.org/2004/02/skos/core#related",
    "http://purl.org/dc/terms/modified",
    "http://www.w3.org/2004/02/skos/core#changeNote",
    "http://xmlns.com/foaf/0.1/focus")

  private final class Gen(seed: Long) {
    val rnd = new scala.util.Random(seed)
    private var nextId = 1000 + rnd.nextInt(1000)
    def freshId(): Int = { nextId += 1 + rnd.nextInt(3); nextId }
    def chance(p: Double): Boolean = rnd.nextDouble() < p
    def pick[A](xs: Vector[A]): A = xs(rnd.nextInt(xs.size))
    def poisson(mean: Double): Int = {
      val l = math.exp(-mean); var k = 0; var p = rnd.nextDouble()
      while (p > l) { k += 1; p *= rnd.nextDouble() }
      k
    }
    def label(): String = {
      val sb = new StringBuilder(pick(Words).capitalize)
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        sb.append(if (chance(0.25)) pick(Punct) else " ").append(pick(Words))
      }
      if (chance(0.03)) sb.append("\tline\nbreak")
      sb.toString
    }
  }

  private def linkRecs(g: Gen, id: Int, viaf: Double, lc: Double,
                       links: mutable.Buffer[String]): Vector[Rec] = {
    val out = Vector.newBuilder[Rec]
    if (g.chance(viaf)) {
      val uri = ViafBase + (10000 + g.rnd.nextInt(90000000))
      out += Iri(id, SameAs, uri); links += uri
    }
    if (g.chance(lc)) {
      val uri = LcBase + "n" + (100000 + g.rnd.nextInt(90000000))
      out += Iri(id, SameAs, uri); links += uri
    }
    if (g.chance(0.2)) out += Iri(id, SameAs, WikiBase + g.rnd.nextInt(9000000))
    out.result()
  }

  /** One heading's lines; link targets are appended to `links`. */
  private def heading(g: Gen, id: Int, agent: Boolean, shape: Shape,
                      links: mutable.Buffer[String]): Vector[Rec] = {
    val out = Vector.newBuilder[Rec]
    if (g.chance(0.95)) out += Lit(id, PrefLabel, g.label())
    (0 until g.poisson(1.2)).foreach(_ => out += Lit(id, AltLabel, g.label()))
    if (g.chance(0.1)) out += Lit(id, AltLabel, "X") // below the length guard
    if (g.chance(0.15)) out += Lit(id, RdfsLabel, g.label())
    out ++= linkRecs(g, id,
      if (agent) shape.agentViaf else shape.termViaf,
      if (agent) shape.agentLc else shape.termLc, links)
    (0 until g.poisson(shape.droppedPerHeading)).foreach { _ =>
      val p = g.pick(Dropped)
      out += (if (p.endsWith("modified") || p.endsWith("changeNote"))
        Lit(id, p, s"20${10 + g.rnd.nextInt(15)}-0${1 + g.rnd.nextInt(9)}-1${g.rnd.nextInt(10)}")
      else Iri(id, p, FastBase + (1000 + g.rnd.nextInt(5000000))))
    }
    out.result()
  }

  private def noise(g: Gen, n: Int): Vector[Rec] = Vector.fill(n) {
    g.rnd.nextInt(7) match {
      case 0 => Other(s"junk line ${g.rnd.nextInt(1000000)}", parses = false)
      case 1 => Other("", parses = false)
      case 2 => Other(s"<$FastBase${g.rnd.nextInt(99999)}> <$PrefLabel> \"unterminated", parses = false)
      case 3 => Other(s"<${FastBase}NaN> <$PrefLabel> \"Bad\" .", parses = true)
      case 4 => Other(s"<$FastBase${g.rnd.nextInt(99999)}> <${Dropped(3)}> <${FastBase}NaN> .", parses = true)
      case 5 => Other(s"<${FastBase}abc${g.rnd.nextInt(99)}> <$PrefLabel> \"No Id\" .", parses = true)
      case _ => Other(s"<${WikiBase}${g.rnd.nextInt(99999)}> <${Dropped(0)}> <http://schema.org/Thing> .", parses = true)
    }
  }

  private def exts(g: Gen, links: Seq[String], perLink: Double): Vector[Rec] =
    links.iterator.flatMap(uri => Iterator.fill(g.poisson(perLink))(
      Ext(uri, if (g.chance(0.03)) "Q" else g.label()): Rec)).toVector

  def generate(shape: Shape, seed: Long): Inputs = {
    val g = new Gen(seed)
    val perFile = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Rec]]
    FileTypes.foreach { case (f, _) => perFile(f) = mutable.ArrayBuffer.empty }
    val typeOf = FileTypes.toMap
    val agentLinks = mutable.ArrayBuffer.empty[String]
    val allIds = mutable.ArrayBuffer.empty[Int]
    val shares = FileTypes.map { case (f, _) => f -> shape.fileShare.getOrElse(f, 0.0) }
    val total = shares.map(_._2).sum
    shares.foreach { case (f, share) =>
      val n = math.max(1, math.round(shape.headings * share / total).toInt)
      val agent = AgentTypes(typeOf(f))
      val links = mutable.ArrayBuffer.empty[String]
      (0 until n).foreach { _ =>
        // cross-file duplicate ids: a heading restated in another file
        val id = if (allIds.nonEmpty && g.chance(0.03)) allIds(g.rnd.nextInt(allIds.size))
          else g.freshId()
        allIds += id
        perFile(f) ++= heading(g, id, agent, shape, links)
      }
      if (agent) agentLinks ++= links
      // external labels: mostly in the same file, some in another
      exts(g, links.toSeq, shape.extPerLink).foreach { e =>
        val target = if (g.chance(0.1)) g.pick(FileTypes.map(_._1).toVector) else f
        perFile(target) += e
      }
      perFile(f) ++= noise(g, math.max(2, n / 50))
    }
    val files = perFile.toSeq.map { case (f, recs) =>
      val shuffled = g.rnd.shuffle(recs.toVector)
      (f, typeOf(f), shuffled)
    }
    val dump = Dump(files, viafTable(g, shape, agentLinks.toVector))
    // the merge path: a base file, then deltas that restate base or
    // earlier delta ids (changed labels) or add new ids
    val mergeIds = mutable.ArrayBuffer.empty[Int]
    def deltaOf(n: Int, docType: String, restate: Double): Delta = {
      val links = mutable.ArrayBuffer.empty[String]
      val recs = Vector.newBuilder[Rec]
      (0 until n).foreach { _ =>
        val id = if (mergeIds.nonEmpty && g.chance(restate)) mergeIds(g.rnd.nextInt(mergeIds.size))
          else g.freshId()
        mergeIds += id
        recs ++= heading(g, id, agent = false, shape, links)
      }
      recs ++= noise(g, math.max(2, n / 50))
      Delta(docType, g.rnd.shuffle(recs.result()))
    }
    val base = deltaOf(shape.baseHeadings, "Topical", restate = 0.0)
    val deltas = Vector.fill(shape.deltas)(deltaOf(
      shape.deltaHeadings._1 + g.rnd.nextInt(shape.deltaHeadings._2 - shape.deltaHeadings._1 + 1),
      g.pick(Vector("Topical", "Geographic", "Personal", "Event")), restate = 0.5))
    Inputs(shape, dump, base, deltas)
  }

  private def viafTable(g: Gen, shape: Shape, agentLinks: Vector[String]): Vector[ViafDoc] = {
    val rows = Vector.newBuilder[ViafDoc]
    var n = 0
    def vid(): String = { n += 1; "v" + (n * 7919L % 1000003L) + "-" + n }
    def existing(): Seq[Int] = if (g.chance(0.3)) Seq.fill(1 + g.rnd.nextInt(2))(g.rnd.nextInt(100000)).distinct.sorted else null
    agentLinks.foreach { uri =>
      if (g.chance(shape.viafMatch)) {
        val seg = uri.substring(uri.lastIndexOf('/') + 1)
        val copies = if (g.chance(0.02)) 2 else 1 // duplicate key: min _id wins
        (0 until copies).foreach { _ =>
          rows += (if (uri.startsWith(ViafBase))
            ViafDoc(vid(), seg, if (g.chance(0.5)) "n" + g.rnd.nextInt(99999999) else null, existing())
          else ViafDoc(vid(), (100000000 + g.rnd.nextInt(99999999)).toString, seg, existing()))
        }
      }
    }
    while (n < shape.viafRows)
      rows += ViafDoc(vid(), (200000000 + g.rnd.nextInt(99999999)).toString,
        if (g.chance(0.7)) "z" + g.rnd.nextInt(99999999) else null, existing())
    g.rnd.shuffle(rows.result())
  }

  // ---- rendering -----------------------------------------------------------

  private def escape(g: scala.util.Random, s: String, sb: java.lang.StringBuilder): Unit =
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c >= 0x80 && g.nextBoolean() => sb.append(f"\\u${c.toInt}%04X")
      case c => sb.append(c)
    }

  /** Render records as NT text; spacing and literal forms vary per line. */
  def render(recs: Vector[Rec], seed: Long): String = {
    val g = new scala.util.Random(seed)
    val sb = new java.lang.StringBuilder(recs.size * 96)
    def sep(): String = if (g.nextInt(20) == 0) "\t " else " "
    def lit(v: String): Unit = {
      sb.append('"'); escape(g, v, sb); sb.append('"')
      sb.append(Suffixes(g.nextInt(Suffixes.size)))
    }
    recs.foreach { r =>
      r match {
        case Lit(id, p, v) =>
          sb.append('<').append(FastBase).append(id).append('>').append(sep())
            .append('<').append(p).append('>').append(sep()); lit(v)
          sb.append(" .")
        case Iri(id, p, u) =>
          sb.append('<').append(FastBase).append(id).append('>').append(sep())
            .append('<').append(p).append('>').append(sep())
            .append('<').append(u).append("> .")
        case Ext(s, v) =>
          sb.append('<').append(s).append('>').append(sep())
            .append('<').append(RdfsLabel).append('>').append(sep()); lit(v)
          sb.append(" .")
        case Other(line, _) => sb.append(line)
      }
      if (g.nextInt(50) == 0) sb.append("  ")
      sb.append('\n')
    }
    sb.toString
  }

  /** Writes the 7 dump files into `dir`, the base and each delta into
    * `deltaDir`. The VIAF parquet is written later, in a Spark session.
    */
  def writeText(c: Inputs, dir: Path, deltaDir: Path, seed: Long): Unit = {
    Files.createDirectories(dir); Files.createDirectories(deltaDir)
    c.dump.files.zipWithIndex.foreach { case ((f, _, recs), i) =>
      Files.write(dir.resolve(f), render(recs, seed * 31 + i).getBytes(UTF_8))
    }
    Files.write(baseFile(deltaDir), render(c.base.recs, seed * 131 - 1).getBytes(UTF_8))
    c.deltas.zipWithIndex.foreach { case (d, i) =>
      Files.write(deltaFile(deltaDir, i), render(d.recs, seed * 131 + i).getBytes(UTF_8))
    }
  }

  def deltaFile(deltaDir: Path, i: Int): Path = deltaDir.resolve(f"delta-$i%03d.nt")
  def baseFile(deltaDir: Path): Path = deltaDir.resolve("base.nt")

  // ---- expected output -----------------------------------------------------

  /** The engine's ingest semantics restated over generator records. */
  object Expected {
    private final class Acc {
      val types = mutable.Set.empty[String]
      var pref: String = null
      var label: String = null
      val alt = mutable.Set.empty[String]
      val lc = mutable.Set.empty[String]
      val viaf = mutable.Set.empty[String]
      val norm = mutable.Set.empty[String]
    }

    private def kept(v: String): String = if (v.length >= 2) v else null
    private def minS(a: String, b: String): String =
      if (a == null) b else if (b == null) a else if (a <= b) a else b
    private def segment(u: String): String = u.substring(u.lastIndexOf('/') + 1)

    private def add(acc: mutable.Map[Int, Acc], r: Rec, docType: String): Unit = r match {
      case Lit(id, p, v) =>
        val a = acc.getOrElseUpdate(id, new Acc)
        a.types += docType
        val k = if (p == PrefLabel || p == AltLabel || p == RdfsLabel) kept(v) else null
        if (p == PrefLabel) a.pref = minS(a.pref, k)
        if (p == AltLabel && k != null) a.alt += k
        if (p == RdfsLabel) a.label = minS(a.label, k)
        if (k != null) a.norm += Normalize.normalizeSingular(k)
      case Iri(id, p, u) =>
        val a = acc.getOrElseUpdate(id, new Acc)
        a.types += docType
        if (p == SameAs && u.contains("id.loc.gov")) { a.lc += u; a.lc += segment(u) }
        if (p == SameAs && u.contains("viaf.org")) { a.viaf += u; a.viaf += segment(u) }
      case _ =>
    }

    private def doc(id: Int, a: Acc, docType: String): FastDoc =
      FastDoc(id, id, docType, if (a.pref != null) a.pref else a.label,
        a.alt.toVector.sorted, a.lc.toVector.sorted, a.viaf.toVector.sorted, a.norm.toVector.sorted)

    /** A1 + P6 + J1 over the term files, as `IngestJob.runAll` writes them. */
    def fast(d: Dump): Vector[FastDoc] = {
      val acc = mutable.HashMap.empty[Int, Acc]
      val extLabels = mutable.HashMap.empty[String, mutable.Set[String]]
      val extNorm = mutable.HashMap.empty[String, mutable.Set[String]]
      d.files.foreach { case (_, t, recs) =>
        recs.foreach {
          case Ext(s, v) =>
            Option(kept(v)).foreach(extLabels.getOrElseUpdate(s, mutable.Set.empty) += _)
            extNorm.getOrElseUpdate(s, mutable.Set.empty) += Normalize.normalizeSingular(v)
          case r if TermTypes(t) => add(acc, r, t)
          case _ =>
        }
      }
      acc.iterator.map { case (id, a) => doc(id, a, a.types.max) }
        .filterNot(x => x.`type` == "Event" && x.sameAsViaf.nonEmpty)
        .map { x =>
          val uris = x.sameAsViaf ++ x.sameAsLc
          val ml = uris.flatMap(u => extLabels.getOrElse(u, Nil))
          val mn = uris.flatMap(u => extNorm.getOrElse(u, Nil))
          x.copy(altLabel = (x.altLabel ++ ml).distinct.sorted,
            normalized = (x.normalized ++ mn).distinct.sorted)
        }.toVector
    }

    /** P4 + J2/K4: agent links union their fast ids into the first
      * (minimum `_id`) VIAF row matching either key.
      */
    def viaf(d: Dump): Vector[ViafDoc] = {
      val byKey = mutable.HashMap.empty[String, String]
      d.viaf.foreach { v =>
        Seq(v.viaf, v.lcId).filter(_ != null).foreach { k =>
          byKey(k) = minS(byKey.getOrElse(k, null), v._id)
        }
      }
      val add = mutable.HashMap.empty[String, mutable.Set[Int]]
      d.files.foreach { case (_, t, recs) =>
        if (AgentTypes(t)) recs.foreach {
          case Iri(id, SameAs, u) if u.contains("id.loc.gov") || u.contains("viaf.org") =>
            byKey.get(segment(u)).foreach(add.getOrElseUpdate(_, mutable.Set.empty) += id)
          case _ =>
        }
      }
      d.viaf.map { v =>
        add.get(v._id) match {
          case Some(ids) => v.copy(fast = (Option(v.fast).getOrElse(Nil) ++ ids).distinct.sorted)
          case None => v
        }
      }
    }

    /** A delta's docs as `buildDocs(project(parse(lines)), lit(docType))`. */
    def deltaDocs(delta: Delta): Vector[FastDoc] = {
      val acc = mutable.HashMap.empty[Int, Acc]
      delta.recs.foreach(add(acc, _, delta.docType))
      acc.iterator.map { case (id, a) => doc(id, a, delta.docType) }.toVector
    }

    /** Stored merge state after `StreamingIngest.mergeBatch` of `docs`. */
    def merge(state: mutable.Map[Int, MergeBuf], docs: Seq[FastDoc]): Unit =
      docs.foreach { d =>
        state(d._id) = MergeFastDocs.mergeBuf(state.getOrElse(d._id, null), MergeFastDocs.toBuf(d))
      }
  }
}
