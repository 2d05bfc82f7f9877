package pathbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random

/** One generated exam question. `token` is unique per question and rides
  * in the statement, so every loaded point can be traced back to the
  * question it came from. */
final case class GenQuestion(token: String, subject: String, answer: Char,
    statement: Seq[String], alts: Seq[String]) {
  /** Five non-empty alternatives; anything else is dropped by extract. */
  def standard: Boolean = alts.length == 5 && alts.forall(_.nonEmpty)
  def statementText: String = statement.mkString(" ")
}

/** One booklet (PV) and its answer key (GB) as the generator laid them
  * out. `order(i)` is the question at raw in-booklet position i + 1. */
final case class Booklet(year: Int, day: String, colour: Int,
    order: IndexedSeq[GenQuestion], pages: Seq[Seq[String]],
    imagePages: Set[Int], keyLines: Seq[String]) {
  def pvName: String = s"${year}_PV_impresso_${day}_CD$colour.pdf"
  def gbName: String = s"${year}_GB_impresso_${day}_CD$colour.pdf"

  /** Raw position (1-based) of every question sitting on an image page. */
  private lazy val onImagePage: Set[Int] = {
    val hit = mutable.Set[Int]()
    var pos = 0
    pages.zipWithIndex.drop(1).foreach { case (lines, p) =>
      val n = lines.count(Corpus.isMarker)
      if (imagePages(p)) hit ++= (pos + 1 to pos + n)
      pos += n
    }
    hit.toSet
  }

  /** Questions a no-images load must produce: standard ones that do not
    * sit on an image page. */
  def loaded: Seq[GenQuestion] = order.zipWithIndex.collect {
    case (q, i) if q.standard && !onImagePage(i + 1) => q
  }

  /** Marker occurrences after the cover page (extract's slices). */
  def markers: Int = order.length

  def write(dir: Path): Unit = {
    Files.write(dir.resolve(pvName), graft.functions.PdfSynth.build(pages, imagePages))
    Files.write(dir.resolve(gbName), graft.functions.PdfSynth.build(Seq(keyLines)))
  }
}

/** Expected outcome of loading a set of booklets: per-(year, subject)
  * counts and each token's (subject, answer, year). */
final case class Manifest(booklets: Seq[Booklet]) {
  lazy val loaded: Seq[(Int, GenQuestion)] =
    booklets.flatMap(b => b.loaded.map(b.year -> _))
  lazy val counts: Map[(Int, String), Long] =
    loaded.groupBy { case (y, q) => (y, q.subject) }
      .map { case (k, v) => k -> v.size.toLong }
  lazy val byToken: Map[String, (String, Char, Int)] =
    loaded.map { case (y, q) => q.token -> (q.subject, q.answer, y) }.toMap
  def total: Long = loaded.size.toLong
  def markers: Long = booklets.map(_.markers.toLong).sum

  def toJson: String = Json.render(Json.obj(
    "booklets" -> booklets.map(b => Json.obj("pv" -> b.pvName,
      "gb" -> b.gbName, "markers" -> b.markers, "loaded" -> b.loaded.size)),
    "counts" -> counts.toSeq.sorted.map { case ((y, s), n) =>
      Json.obj("year" -> y, "subject" -> s, "n" -> n) },
    "tokens" -> byToken.toSeq.sortBy(_._1).map { case (t, (s, a, y)) =>
      Json.obj("token" -> t, "subject" -> s, "answer" -> a.toString,
        "year" -> y) }))
}

/** Seeded ENEM corpus generator. Booklets carry the structures the
  * extract path has to handle: a cover page, barcode tokens, mixed
  * `Questão`/`QUESTÃO` markers, image pages (three a booklet, whose
  * questions a no-images load drops), non-standard questions (one with
  * fewer than five alternatives and one with an image alternative per
  * exam day), the day-1 English/Spanish overlap on positions 1-5 and
  * 6-10, and the per-day subject blocks. Keys use both real grid layouts:
  * the language numbers listed once with two letters, or listed twice.
  * Counts are fixed per booklet so that runs with different seeds do the
  * same amount of work; the seed varies the text, the image pages, the
  * colour permutations and where the non-standard questions fall.
  *
  * The subject blocks are written here from the exam's published layout,
  * not read from the program, so the manifest is an independent oracle. */
final class Corpus(seed: Long) {
  private val rnd = new Random(seed)
  private var serial = 0
  private val QuestionsPerPage = 4
  private val ImagePages = 3

  /** Raw positions per subject block, in booklet order. */
  private val blocks: Map[String, Seq[(String, Int)]] = Map(
    "D1" -> Seq("eng" -> 5, "spani" -> 5, "lang" -> 40, "huma" -> 45),
    "D2" -> Seq("natu" -> 45, "math" -> 45))

  private val vocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ba", "ca", "da", "fa", "ga", "la", "ma", "na",
      "pa", "ra", "sa", "ta", "va", "be", "ce", "de", "fe", "le", "me",
      "ne", "pe", "re", "se", "te", "bi", "ci", "di", "li", "mi", "ni",
      "pi", "ri", "si", "ti", "vi", "bo", "co", "do", "lo", "mo", "no",
      "po", "ro", "so", "to", "vo", "bu", "cu", "du", "lu", "mu", "nu",
      "pu", "ru", "su", "tu", "ção", "ão", "qué", "gí", "nhe", "lha")
    val words = mutable.LinkedHashSet[String]()
    while (words.size < 4000)
      words += Seq.fill(2 + rnd.nextInt(3))(syl(rnd.nextInt(syl.size))).mkString
    words.toIndexedSeq
  }

  private def words(n: Int): String =
    Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  private def barcode(): String = {
    val cs = "ABCDEFGHJKLMNPQRSTUVWXYZ0123456789"
    "*" + Seq.fill(9 + rnd.nextInt(2))(cs(rnd.nextInt(cs.length))).mkString +
      "*"
  }

  /** kind 0: five alternatives; 1: three or four (non-standard); 2: one
    * alternative is an image, so its text is empty (non-standard). */
  private def question(subject: String, kind: Int): GenQuestion = {
    serial += 1
    val token = s"tk${serial}q"
    val statement = Seq(s"$token ${words(7 + rnd.nextInt(6))}") ++
      Seq.fill(1 + rnd.nextInt(2))(words(8 + rnd.nextInt(6)))
    val alts = kind match {
      case 1 => Seq.fill(3 + rnd.nextInt(2))(words(3 + rnd.nextInt(5)))
      case 2 =>
        val blank = rnd.nextInt(5)
        Seq.tabulate(5)(i => if (i == blank) "" else words(3 + rnd.nextInt(5)))
      case _ => Seq.fill(5)(words(3 + rnd.nextInt(5)))
    }
    GenQuestion(token, subject, "ABCDE"(rnd.nextInt(5)), statement, alts)
  }

  /** A fresh question set for one exam day, in canonical position order,
    * with one question of each non-standard kind. */
  def exam(day: String): IndexedSeq[GenQuestion] = {
    val subjects = blocks(day).flatMap { case (s, n) => Seq.fill(n)(s) }
    val odd = rnd.shuffle(subjects.indices.toList).take(2)
    subjects.zipWithIndex.map { case (s, i) =>
      question(s, odd.indexOf(i) + 1)
    }.toIndexedSeq
  }

  /** The colour's order: the exam's questions shuffled inside each subject
    * block, as the colours of one real exam day are. Colour 1 keeps the
    * canonical order. */
  def permute(exam: IndexedSeq[GenQuestion], colour: Int): IndexedSeq[GenQuestion] =
    if (colour == 1) exam
    else {
      val day = if (exam.head.subject == "eng") "D1" else "D2"
      val starts = blocks(day).scanLeft(0)(_ + _._2)
      blocks(day).zip(starts).flatMap { case ((_, n), at) =>
        rnd.shuffle(exam.slice(at, at + n))
      }.toIndexedSeq
    }

  /** Displayed number of raw position `n` (day 1 prints the Spanish block
    * as 1-5 again; day 2 starts at 91). */
  private def displayed(day: String, n: Int): Int =
    if (day == "D1") (if (n > 5) n - 5 else n) else n + 90

  def booklet(year: Int, day: String, colour: Int,
      order: IndexedSeq[GenQuestion]): Booklet = {
    val pages = mutable.ArrayBuffer[Seq[String]](Seq(
      "EXAME NACIONAL DO ENSINO MÉDIO", s"ENEM $year",
      s"${day.tail}º DIA - CADERNO $colour",
      "LEIA ATENTAMENTE AS INSTRUÇÕES SEGUINTES",
      "Este CADERNO DE QUESTÕES contém 90 questões numeradas."))
    // four questions a page; ImagePages full pages carry a figure
    val nPages = (order.length + QuestionsPerPage - 1) / QuestionsPerPage
    val imagePages = rnd.shuffle((1 until nPages).toList).take(ImagePages).toSet
    var i = 0
    while (i < order.length) {
      val take = math.min(order.length - i, QuestionsPerPage)
      val lines = mutable.ArrayBuffer[String]()
      if (rnd.nextDouble() < 0.5) lines += barcode()
      if (rnd.nextDouble() < 0.3)
        lines += (if (day == "D1") "LINGUAGENS, CÓDIGOS E SUAS TECNOLOGIAS"
                  else "CIÊNCIAS DA NATUREZA E SUAS TECNOLOGIAS")
      (i until i + take).foreach { p =>
        val q = order(p)
        val marker = if (rnd.nextBoolean()) "QUESTÃO" else "Questão"
        lines += f"$marker ${displayed(day, p + 1)}%02d"
        lines ++= q.statement
        q.alts.zip("ABCDE").foreach { case (a, l) =>
          lines += l.toString
          lines += (if (a.isEmpty) l.toString else s"$l $a")
        }
      }
      if (rnd.nextDouble() < 0.3) lines += barcode()
      pages += lines.toSeq
      i += take
    }
    Booklet(year, day, colour, order, pages.toSeq, imagePages,
      keyLines(year, day, colour, order))
  }

  private def keyLines(year: Int, day: String, colour: Int,
      order: IndexedSeq[GenQuestion]): Seq[String] = {
    val header = s"ENEM $year - GABARITO - ${day.tail}º DIA - CADERNO $colour"
    val grid =
      if (day == "D2")
        order.indices.flatMap(i => Seq((i + 91).toString, order(i).answer.toString))
      else {
        val lang = (1 to 5).map(n => (n, order(n - 1).answer, order(n + 4).answer))
        val head =
          if (year % 2 == 1) lang.flatMap { case (n, e, s) =>
            Seq(n.toString, e.toString, s.toString) }
          else lang.flatMap { case (n, e, _) => Seq(n.toString, e.toString) } ++
            lang.flatMap { case (n, _, s) => Seq(n.toString, s.toString) }
        head ++ (11 to order.length).flatMap(p =>
          Seq((p - 5).toString, order(p - 1).answer.toString))
      }
    header +: grid
  }

  /** `years` × both days × `colours` booklet+key pairs; the colours of one
    * exam day share their questions in permuted order. */
  def archive(years: Seq[Int], colours: Int): Seq[Booklet] =
    for {
      y <- years
      (day, cs) <- Seq("D1" -> (1 to colours), "D2" -> (5 until 5 + colours))
      exam = this.exam(day)
      c <- cs
    } yield booklet(y, day, c, permute(exam, cs.indexOf(c) + 1))

  /** Batch `b` of the incremental stream: one new (year, day, colour) pair
    * with questions seen nowhere else. */
  def batch(b: Int): Booklet = {
    val year = 2030 + b / 18
    val day = if ((b / 9) % 2 == 0) "D1" else "D2"
    booklet(year, day, 1 + b % 9, exam(day))
  }

  /** A perturbed form of `text`: about a third of its words replaced. */
  def perturb(text: String): String =
    text.split(" ").map(w =>
      if (rnd.nextDouble() < 0.33) vocab(rnd.nextInt(vocab.size)) else w)
      .mkString(" ")
}

object Corpus {
  def isMarker(line: String): Boolean =
    line.startsWith("QUESTÃO ") || line.startsWith("Questão ")

  private val TokenRe = "tk[0-9]+q".r
  def tokensIn(text: String): Seq[String] =
    TokenRe.findAllIn(text).toSeq

  def writeAll(booklets: Seq[Booklet], dir: Path): Unit = {
    Files.createDirectories(dir)
    booklets.foreach(_.write(dir))
  }
}
