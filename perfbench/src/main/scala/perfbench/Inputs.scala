package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A document of the base corpus (`documents.parquet`), tokenized. */
final case class BaseDoc(id: Long, tokens: IndexedSeq[String], source: String)

/** The base corpus the generator draws from: the benchmark's copy of
  * `documents.parquet`.
  */
final case class Base(docs: IndexedSeq[BaseDoc]) {
  val vocab: IndexedSeq[String] = docs.flatMap(_.tokens).distinct.sorted
  /** Documents a slice may near-copy: long enough (60+ tokens) that
    * swapping two adjacent tokens keeps the 3-shingle Jaccard similarity
    * to the original near 0.87 or above, well clear of the 0.8
    * near-duplicate threshold, and with no near-duplicate of their own in
    * the base corpus, so the dedup index holds the original the copy
    * must be dropped against.
    */
  val nearSources: Set[Int] = {
    val sh = docs.map(_.tokens.sliding(3).map(_.mkString(" ")).toSet)
    val inherent = for {
      a <- docs.indices; b <- (a + 1) until docs.size
      if math.min(sh(a).size, sh(b).size) >= 0.8 * math.max(sh(a).size, sh(b).size)
      inter = (sh(a) intersect sh(b)).size
      if inter.toDouble / (sh(a).size + sh(b).size - inter) >= 0.8
      d <- Seq(a, b)
    } yield d
    docs.indices.filter(docs(_).tokens.size >= 60).toSet -- inherent
  }
}

/** One page of NewsAPI-shaped articles (JSON lines) with the DQ outcome
  * planted in it: `quarantined` rows fail a DQ rule (null title, empty URL,
  * null `publishedAt`, or an in-page resend of a URL), the rest are valid.
  */
final case class Page(lines: IndexedSeq[String], quarantined: Int) {
  def rows: Int = lines.size
  def valid: Int = rows - quarantined
  def bytes: Long = lines.iterator.map(_.length + 1L).sum
}

/** One stream slice: JSON lines of clean articles, `nearDups` of which are
  * near-copies of articles sent in earlier slices. A correct dedup lands at
  * least `mustLand` and at most `rows - nearDups` of its articles.
  */
final case class Slice(lines: IndexedSeq[String], nearDups: Int, mustLand: Int) {
  def rows: Int = lines.size
  def bytes: Long = lines.iterator.map(_.length + 1L).sum
}

/** Seeded input generator. The engine receives only what it returns.
  *
  * Fresh text for each page or slice comes from re-alphabeting:
  * every token longer than three characters that is not a stopword is
  * replaced by a random word of the same length, one bijective map per
  * copy and no image shared between copies. Within a copy, token counts,
  * token lengths, stopword ratios and every shingle overlap are preserved;
  * across copies the texts share no content word, so copies are mutually
  * independent and no later slice is a near-duplicate of an earlier one
  * unless the generator plants it.
  */
final class Inputs(val base: Base, val seed: Long) {
  import Inputs._

  private val keep: Set[String] = base.vocab.filter(w =>
    w.length <= 3 || newspipe.ops.TextStats.EnStopwords.contains(w)).toSet
  private val used = mutable.Set.empty[String] ++ base.vocab
  private val alphabets = mutable.ArrayBuffer.empty[Map[String, String]]

  /** The token map of copy `k` (copies are built in order, so a map
    * depends only on the seed and `k`).
    */
  def alphabet(k: Int): Map[String, String] = synchronized {
    while (alphabets.size <= k) {
      val rng = rngOf(seed, 0xa1fa, alphabets.size)
      alphabets += base.vocab.map { w =>
        if (keep(w)) w -> w
        else {
          var img = ""
          while (img.isEmpty || used(img))
            img = Iterator.fill(w.length)(('a' + rng.nextInt(26)).toChar).mkString
          used += img
          w -> img
        }
      }.toMap
    }
    alphabets(k)
  }

  def text(doc: BaseDoc, k: Int): IndexedSeq[String] = {
    val a = alphabet(k)
    doc.tokens.map(a)
  }

  /** Page `p` of the medallion workload: `n` articles, 3 % of them made
    * invalid and 2 % sent twice. The shares are the same on every page and
    * for every seed, so that the seed varies the content, not the load.
    */
  def page(p: Int, n: Int): Page = {
    val rng = rngOf(seed, 0xba6e, p)
    val picks = shuffled(rng, base.docs.indices).take(n)
    val nBad = n * 3 / 100
    val nResend = math.max(1, n * 2 / 100)
    val arts = picks.zipWithIndex.map { case (d, i) =>
      val a = articleOf(base.docs(d), text(base.docs(d), p),
        url = s"https://${base.docs(d).source}.example.com/p$p/a$i-${seedTag}",
        publishedAt = stamp(p, i), author = s"author ${d % 37}")
      if (i < nBad) i % 3 match {
        case 0 => a.copy(title = null)
        case 1 => a.copy(url = "")
        case _ => a.copy(publishedAt = null)
      } else a
    }
    val resent = arts.slice(nBad, nBad + nResend)
    val lines = shuffled(rng, arts ++ resent).map(_.json)
    Page(lines, nBad + 2 * nResend)
  }

  /** Slice `s` of the stream workload, in the slice's own alphabet. Slice
    * 0, the seed corpus, holds every base document once. Every later slice
    * holds `n` articles, 15 % of them near-copies (two adjacent content
    * tokens swapped, new URL) of articles an earlier slice sent.
    */
  def slice(s: Int, n: Int): Slice = {
    val (rng, nNear, docs) = sliceDocs(s, n)
    val fresh = docs.zipWithIndex.map { case (d, i) =>
        articleOf(base.docs(d), text(base.docs(d), sliceCopy(s)),
          url = s"https://${base.docs(d).source}.example.com/s$s/a$i-$seedTag",
          publishedAt = stamp(s, i), author = s"author ${d % 37}")
      }
    val near = (0 until nNear).map { j =>
      val t = rng.nextInt(s)
      val sources = sliceDocs(t, n)._3.filter(base.nearSources)
      val d = sources(rng.nextInt(sources.size))
      val toks = swapAdjacent(text(base.docs(d), sliceCopy(t)), rng)
      articleOf(base.docs(d), toks,
        url = s"https://${base.docs(d).source}.example.com/s$s/n$j-$seedTag",
        publishedAt = stamp(s, n - nNear + j), author = s"author ${d % 37}")
    }
    // the seed corpus is written whole, not through the dedup index
    Slice(shuffled(rng, fresh ++ near).map(_.json), nNear,
      if (s == 0) docs.size else mustLand(docs, sliceCopy(s)))
  }

  /** How many of a slice's fresh articles (base documents `docs` in copy
    * `k`) no correct dedup may drop: those with a shingle Jaccard
    * similarity below [[RiskJaccard]] to every other fresh article of the
    * slice, and below it to any text of another copy. Texts of different
    * copies share only shingles made of kept tokens, so a text whose kept
    * shingles are fewer than that share of its shingles is below it to
    * all of them. Shingles are the dedup index's: word 3-grams of the
    * engine's tokenization of the content.
    */
  private def mustLand(docs: IndexedSeq[Int], k: Int): Int = {
    val a = alphabet(k)
    val sh = docs.map { d =>
      val toks = base.docs(d).tokens.flatMap { w =>
        if (keep(w)) engineTokens(w).map(_ -> true) else Seq(a(w) -> false)
      }
      val grams = if (toks.size < 3) Seq(toks) else toks.sliding(3).toSeq
      (grams.map(_.map(_._1).mkString(" ")).toSet,
        grams.filter(_.forall(_._2)).map(_.map(_._1).mkString(" ")).toSet)
    }
    docs.indices.count { i =>
      val (all, kept) = sh(i)
      kept.size < RiskJaccard * all.size && !docs.indices.exists { j =>
        j != i && {
          val inter = (all intersect sh(j)._1).size
          inter >= RiskJaccard * (all.size + sh(j)._1.size - inter)
        }
      }
    }
  }

  /** The generator state after drawing slice `s`'s plan: its random
    * stream, its count of planted near-copies and its fresh documents.
    */
  private def sliceDocs(s: Int, n: Int): (SplittableRandom, Int, IndexedSeq[Int]) = {
    val rng = rngOf(seed, 0x511c, s)
    val nNear = if (s == 0) 0 else n * 15 / 100
    val docs = shuffled(rng, base.docs.indices)
    (rng, nNear, if (s == 0) docs else docs.take(n - nNear))
  }

  private val seedTag = java.lang.Long.toHexString(seed)
}

object Inputs {

  /** The dedup index drops a text at a shingle Jaccard similarity of 0.8;
    * [[Inputs.mustLand]] counts an article as droppable from 0.75 on, a
    * margin for tokenization details the generator does not replicate.
    */
  val RiskJaccard = 0.75

  /** The engine's tokenization (`Dedup.tokens`): lower case, split on
    * anything but letters, digits and apostrophes.
    */
  def engineTokens(w: String): Seq[String] =
    w.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9']+").toSeq.filter(_.nonEmpty)

  /** Slices take alphabets apart from the pages'. */
  private def sliceCopy(s: Int): Int = 1000 + s

  def loadBase(spark: SparkSession, dataDir: String): Base = {
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => BaseDoc(r.getLong(0), r.getString(1).split(" ").toIndexedSeq
        .filter(_.nonEmpty), r.getString(2)))
      .sortBy(_.id).toIndexedSeq
    Base(docs)
  }

  def rngOf(seed: Long, stream: Int, index: Int): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ stream.toLong) ^ index.toLong))

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def shuffled[T](rng: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** Swap two adjacent tokens at a random position past the title words. */
  def swapAdjacent(toks: IndexedSeq[String], rng: SplittableRandom): IndexedSeq[String] = {
    val i = 10 + rng.nextInt(toks.size - 11)
    toks.updated(i, toks(i + 1)).updated(i + 1, toks(i))
  }

  private val Epoch = java.time.Instant.parse("2026-01-01T00:00:00Z")

  /** Publication time of article `i` of page or slice `p`: slices are a day
    * apart, so event time only moves forward across slices.
    */
  def stamp(p: Int, i: Int): String =
    Epoch.plusSeconds(p * 86400L + i * 60L).toString

  final case class Article(source: String, author: String, title: String,
      description: String, url: String, publishedAt: String, content: String) {
    def json: String =
      s"""{"source":{"name":${q(source)}},"author":${q(author)},""" +
        s""""title":${q(title)},"description":${q(description)},""" +
        s""""url":${q(url)},"urlToImage":${q(if (url == null) null else url + ".jpg")},""" +
        s""""publishedAt":${q(publishedAt)},"content":${q(content)}}"""
  }

  /** An article whose title is the first words of the text and whose
    * description and content carry HTML markup.
    */
  def articleOf(doc: BaseDoc, toks: IndexedSeq[String], url: String,
      publishedAt: String, author: String): Article =
    Article(doc.source, author, toks.take(8).mkString(" "),
      s"<p>${toks.slice(8, 20).mkString(" ")}</p>", url, publishedAt,
      s"<div><b>${toks.head}</b> ${toks.tail.mkString(" ")}</div>")

  private def q(s: String): String =
    if (s == null) "null"
    else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
