package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.util.Random
import graft.model.WebPage
import graft.extract.WikiPageParser

/**
 * Wiki-markup corpus with a large entity universe, for the workloads the
 * stock SyntheticCorpus cannot drive: its 40 entities give a dictionary
 * of about 50 surface forms at any page count, so join strategy,
 * automaton size and scoring kernels never see real work.
 *
 * Shape, all a pure function of (seed, index):
 *  - `nEntities` entities; link targets follow a Zipf(1.0) law over
 *    entity rank, so a few head entities carry most links (skew);
 *  - every entity has a unique two-word name and a one-word short form
 *    shared with the three other entities of its group of four, so a
 *    spot of a short form has about four candidates (ambiguity);
 *  - each entity owns five context words from a vocabulary of
 *    `nEntities / 4` words, and sentences mentioning it use them, so
 *    context disambiguation is learnable;
 *  - every 25th entity has a redirect alias, every 40th a disambiguation
 *    page, and every entity one of 24 types.
 */
final case class WideCorpus(seed: Long, nEntities: Int) {
  require(nEntities >= 8, "nEntities must be at least 8")

  private val ns = "http://dbpedia.org/resource/"
  private val syllables = Vector("ka", "lo", "mi", "re", "va", "to", "su", "ne", "da", "pi",
    "ro", "ba", "ge", "lu", "fa", "zo", "te", "mo", "ri", "sa", "no", "vi", "ku", "de")
  private val filler = Vector("the", "system", "report", "region", "people", "group", "work",
    "year", "place", "history", "study", "record", "account", "series", "field", "period")
  private val nVocab = math.max(64, nEntities / 4)

  private def hash(parts: Long*): Long =
    scala.util.hashing.MurmurHash3.orderedHash(seed +: parts).toLong & 0xffffffffL

  /** A pronounceable word of 2-4 syllables; the index suffix keeps words
   *  distinct without a collision check. */
  private def word(kind: Long, i: Long): String = {
    val h = hash(kind, i)
    val n = 2 + (h % 3).toInt
    val s = (0 until n).map(k => syllables(((h >>> (4 + 5 * k)) % syllables.length).toInt)).mkString
    s + base36(i)
  }

  private def base36(i: Long): String = java.lang.Long.toString(i, 36)
  private def cap(s: String): String = s.substring(0, 1).toUpperCase + s.substring(1)

  def uri(e: Int): String = s"${cap(word(1, e))}_${cap(word(2, e))}"
  def shortForm(e: Int): String = cap(word(3, e / 4))
  def fullForm(e: Int): String = uri(e).replace('_', ' ')
  def contextWords(e: Int): IndexedSeq[String] =
    (0 until 5).map(k => word(4, hash(5, e, k) % nVocab))
  def entityType(e: Int): String = s"DBpedia:Class${e % 24}"
  def alias(e: Int): String = s"Alias_${uri(e)}"

  /** Zipf(1.0) cumulative weights over entity rank, built once per JVM. */
  @transient private lazy val cdf: Array[Double] = {
    val w = Array.tabulate(nEntities)(r => 1.0 / (r + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def zipfEntity(rnd: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, nEntities - 1)
  }

  private def sentence(rnd: Random, e: Int, linked: Boolean): String = {
    val ctx = contextWords(e)
    def c() = ctx(rnd.nextInt(ctx.length))
    def f() = filler(rnd.nextInt(filler.length))
    val sf = if (rnd.nextInt(3) == 0) fullForm(e) else shortForm(e)
    val target =
      if (!linked) sf
      else if (e % 25 == 0 && rnd.nextBoolean()) s"[[${alias(e).replace('_', ' ')}|$sf]]"
      else s"[[${fullForm(e)}|$sf]]"
    rnd.nextInt(3) match {
      case 0 => s"The ${f()} of $target is known for ${c()} and ${c()}."
      case 1 => s"Records link $target with ${c()}, ${c()} and ${c()}."
      case _ => s"In that ${f()}, $target shaped the ${c()} of ${c()}."
    }
  }

  /** Deterministic markup of page `idx`. */
  def pageMarkup(idx: Long): (String, String) = {
    val rnd = new Random(hash(6, idx))
    val main = zipfEntity(rnd)
    val paras = (0 until 2 + rnd.nextInt(3)).map { _ =>
      (0 until 3 + rnd.nextInt(3)).map { s =>
        sentence(rnd, if (s == 0) main else zipfEntity(rnd), linked = s % 2 == 0)
      }.mkString(" ")
    }
    (s"${uri(main)}__page_$idx", paras.mkString("\n\n"))
  }

  def webPages(spark: SparkSession, nPages: Long, firstIdx: Long = 0L): Dataset[WebPage] = {
    import spark.implicits._
    val self = this
    spark.range(firstIdx, firstIdx + nPages).map { idx =>
      val (title, markup) = self.pageMarkup(idx)
      WebPage(s"http://crawl.test/wiki/$title", new Timestamp(1700000000000L + idx * 1000L),
        markup.getBytes("UTF-8"), WikiPageParser.extractText(markup), "en")
    }
  }

  def redirectsNt: Seq[String] =
    (0 until nEntities by 25).map(e =>
      s"<$ns${alias(e)}> <http://dbpedia.org/ontology/wikiPageRedirects> <$ns${uri(e)}> .")

  def disambiguationsNt: Seq[String] =
    (0 until nEntities by 40).flatMap { e =>
      val page = s"$ns${shortForm(e)}_(disambiguation)"
      (e until math.min(e + 4, nEntities)).map(m =>
        s"<$page> <http://dbpedia.org/ontology/wikiPageDisambiguates> <$ns${uri(m)}> .")
    }

  def instanceTypesNt: Seq[String] =
    (0 until nEntities).map(e =>
      s"<$ns${uri(e)}> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> " +
        s"<http://dbpedia.org/ontology/${entityType(e).stripPrefix("DBpedia:")}> .")

  /** Writes the redirect, disambiguation and type N-Triples as parquet under `dir`. */
  def writeNt(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    Seq("redirects" -> redirectsNt, "disambiguations" -> disambiguationsNt,
      "types" -> instanceTypesNt).foreach { case (n, lines) =>
      lines.toDS().write.parquet(s"$dir/$n")
    }
  }
}

object WideCorpus {
  /** The N-Triples lines the program takes beside the pages. */
  final case class Nt(redirects: Seq[String], disambiguations: Seq[String], types: Seq[String])

  /** Reads back what [[WideCorpus#writeNt]] wrote under `dir`. */
  def readNt(spark: SparkSession, dir: String): Nt = {
    import spark.implicits._
    def lines(n: String) = spark.read.parquet(s"$dir/$n").as[String].collect().toSeq
    Nt(lines("redirects"), lines("disambiguations"), lines("types"))
  }
}
