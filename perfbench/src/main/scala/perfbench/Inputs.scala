package perfbench

import java.sql.Timestamp
import graft.model.PageRow

/**
 * Seeded input generation. The program under test only ever sees the
 * frames built from these rows; the truth (url -> family) stays here.
 *
 * Every url carries a tag derived from the seed, so two seeds never share
 * urls (and therefore never share `xxhash64(url)` record ids), and the
 * absent families of the match stream live in their own url namespace,
 * disjoint from the indexed ones.
 */
object Inputs {

  case class Labeled(page: PageRow, family: Long)

  private val epoch = 1500000000L

  /** The 40-word vocabulary of the library's labeled fixture. */
  private val denseVocab: Array[String] = Array(
    "data", "spark", "query", "table", "join", "scan", "merge", "sort",
    "index", "shard", "block", "key", "hash", "group", "filter", "window",
    "stream", "batch", "row", "column", "vector", "cache", "store", "fetch",
    "crawl", "page", "link", "text", "token", "model", "score", "match",
    "entity", "record", "field", "value", "label", "train", "test", "bench")

  private val langs = Array("en", "de", "fr")

  def seedTag(seed: Long): String = java.lang.Long.toString(seed & 0xffffffffL, 36)

  private def page(url: String, ts: Long, text: String, lang: String): PageRow =
    PageRow(url, new Timestamp(ts * 1000L),
      s"<html><body>$text</body></html>".getBytes("UTF-8"), text, lang)

  private def baseText(rnd: scala.util.Random): String =
    Seq.fill(12 + rnd.nextInt(30))(denseVocab(rnd.nextInt(denseVocab.length))).mkString(" ")

  /** Crawl-style near-duplicate edits (the fixture's five kinds): doubled
    * whitespace, an adjacent-token swap, a boilerplate suffix, an exact
    * copy, a dropped leading token. */
  def perturb(rnd: scala.util.Random, text: String): String = rnd.nextInt(5) match {
    case 0 => text.replaceFirst(" ", "  ") + " "
    case 1 =>
      val t = text.split(" ")
      if (t.length < 4) text
      else {
        val i = 1 + rnd.nextInt(t.length - 2)
        val tmp = t(i); t(i) = t(i + 1); t(i + 1) = tmp
        t.mkString(" ")
      }
    case 2 => text + " © example inc"
    case 3 => text
    case _ => text.split(" ").drop(1).mkString(" ")
  }

  /** Dense families: short texts over a 40-word vocabulary, 1-4 rows per
    * family, shuffled so family members are not adjacent. */
  def dense(seed: Long, nFamilies: Int): Seq[Labeled] = {
    val rnd = new scala.util.Random(seed)
    val tag = seedTag(seed)
    val rows = (0 until nFamilies).flatMap { i =>
      val text = baseText(rnd)
      val lang = langs(rnd.nextInt(langs.length))
      val base = page(s"https://host${i % 97}.example/$tag/f$i", epoch + i * 37L, text, lang)
      val variants = (0 until rnd.nextInt(4)).map { v =>
        page(s"https://host${(i + v + 1) % 97}.example/$tag/f$i-v$v",
          epoch + i * 37L + v + 1, perturb(rnd, text), lang)
      }
      (base +: variants).map(Labeled(_, i.toLong))
    }
    new scala.util.Random(seed + 1).shuffle(rows)
  }

  /** The /match stream over dense-style families. Each family's text ends
    * in a rare family token (the SKU-like identifier real near-duplicate
    * pages share) that no perturbation removes: with 5000 index pages over
    * a 40-word vocabulary every vocabulary token is in more than
    * `maxCanonBlockSize` pages, so its block is dropped from the index, and
    * the family token is the block that always reaches the family.
    *
    * @param index one base page per indexed family
    * @param requests `nRequests` requests of `perRequest` records: 80 % are
    *   near-dup variants of indexed families, 20 % belong to absent
    *   families — the first request of an absent family sends its base
    *   page, later requests send variants of it.
    */
  case class MatchStream(index: Seq[Labeled], requests: Seq[Seq[Labeled]])

  def matchStream(seed: Long, nFamilies: Int, nRequests: Int,
      perRequest: Int): MatchStream = {
    val rnd = new scala.util.Random(seed)
    val tag = seedTag(seed)
    def famText(name: String) = s"${baseText(rnd)} sku${tag}x$name"
    val texts = Array.tabulate(nFamilies)(i => (famText(s"f$i"), langs(rnd.nextInt(langs.length))))
    val index = texts.indices.map { i =>
      Labeled(page(s"https://host${i % 97}.example/$tag/f$i", epoch + i * 37L,
        texts(i)._1, texts(i)._2), i.toLong)
    }
    val nAbsent = perRequest / 5
    val nIndexed = perRequest - nAbsent
    var absent = Vector.empty[(String, String)] // founded so far
    var serial = 0
    val reqs = (0 until nRequests).map { r =>
      val indexed = (0 until nIndexed).map { _ =>
        val f = rnd.nextInt(nFamilies)
        serial += 1
        Labeled(page(s"https://host${(f + serial) % 97}.example/$tag/f$f-m$serial",
          epoch + serial, perturb(rnd, texts(f)._1), texts(f)._2), f.toLong)
      }
      // half of the absent slots revisit absent families of earlier
      // requests (one record per family per request), the rest are new
      val revisit = if (absent.isEmpty) Vector.empty[Int]
        else rnd.shuffle(absent.indices.toVector).take(math.min(nAbsent / 2, absent.size))
      val again = revisit.map { a =>
        serial += 1
        Labeled(page(s"https://absent.example/$tag/a$a-m$serial", epoch + serial,
          perturb(rnd, absent(a)._1), absent(a)._2), -1L - a)
      }
      val fresh = (0 until nAbsent - again.size).map { _ =>
        val a = absent.size
        absent :+= ((famText(s"a$a"), langs(rnd.nextInt(langs.length))))
        serial += 1
        Labeled(page(s"https://absent.example/$tag/a$a", epoch + serial,
          absent(a)._1, absent(a)._2), -1L - a)
      }
      rnd.shuffle(indexed ++ again ++ fresh)
    }
    MatchStream(index, reqs)
  }
}
