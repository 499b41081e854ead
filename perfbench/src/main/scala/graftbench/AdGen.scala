package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.collection.mutable

/** What the pipeline must produce for one distinct ad. */
final case class AdTruth(uniqId: String, siteId: String, landed: Boolean,
                         phone: String, age: String, title: String, postDate: String)

/** Generator truth for one input set. `delivered` counts every envelope
  * written, duplicates and re-deliveries included. */
final case class Truth(ads: Map[String, AdTruth], delivered: Long) {
  def warehouse: Long = ads.values.count(_.landed).toLong
  def quarantine: Long = ads.size.toLong - warehouse
  def quarantineRatio: Double = quarantine.toDouble / ads.size

  def toJson: String =
    s"""{"delivered":$delivered,"distinct":${ads.size},"warehouse":$warehouse,""" +
      s""""quarantine":$quarantine,"ads":""" +
      ads.values.toSeq.sortBy(_.uniqId).map { a =>
        s"""{"uniq_id":"${Json.esc(a.uniqId)}","site_id":"${a.siteId}","landed":${a.landed},""" +
          s""""phone":"${a.phone}","age":"${a.age}","title":"${Json.esc(a.title)}",""" +
          s""""post_date":"${a.postDate}"}"""
      }.mkString("[", ",\n", "]") + "}"
}

/** Seeded stand-in for the scraper's output (scraper.py:97-100): JSON
  * envelopes `{scrape_date, code, url, read, uniq_id}` with ~5 KB ad pages,
  * and a 479-row site dimension shaped like URLs.csv. Fixed shares of the
  * defects the pipeline must handle: in-file duplicate `uniq_id`s, unknown
  * `site_id`s, unparseable post dates, non-ASCII text and spelled-digit
  * phones. Page text avoids the letters e, i and o, which every spelled
  * digit contains, so only the phone itself can yield digits. */
final class AdGen(seed: Long) {
  import AdGen._

  private val rnd = new java.util.SplittableRandom(seed)
  val sites: IndexedSeq[(String, String, String)] = (0 until SiteCount).map { i =>
    val state = States(i % States.length)
    (f"site$i%03d", f"City $i%03d", state)
  }
  private var nextAd = 0

  def writeDim(path: Path): Unit = {
    val rows = sites.map { case (id, city, state) =>
      s"$id,$city,$state,Region ${state.length % 4},Division ${state.length % 9},http://$id.backpage.com/"
    }
    Files.write(path, ("Backpage ID,City,State,Region,Division,URL" +: rows).mkString("", "\n", "\n")
      .getBytes(UTF_8))
  }

  private def pick[T](xs: collection.IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))
  private def chance(p: Double): Boolean = rnd.nextDouble() < p

  private def word(): String =
    (0 until 1 + rnd.nextInt(3)).map(_ => pick(Syllables)).mkString

  private def words(n: Int): String = (0 until n).map(_ => word()).mkString(" ")

  /** One distinct ad: its envelope line minus the scrape date, and its truth. */
  private def ad(): (String => String, AdTruth) = {
    nextAd += 1
    val adId = (10000000 + nextAd).toString
    val known = !chance(UnknownSiteShare)
    val siteId = if (known) sites(rnd.nextInt(sites.length))._1 else f"nosite${rnd.nextInt(1000)}%03d"
    val category = pick(Categories)
    val url = s"http://$siteId.backpage.com/$category/${word()}-${word()}/$adId"
    val goodDate = !chance(BadDateShare)
    val posted = LocalDateTime.of(2017, 3 + rnd.nextInt(3), 1 + rnd.nextInt(28),
      rnd.nextInt(24), rnd.nextInt(60))
    val postedText = if (goodDate) posted.format(PostedFmt) else "sometime soon"
    val postDate = if (goodDate) posted.format(IsoFmt) else ""
    val nonAscii = chance(NonAsciiShare)
    val title = words(2 + rnd.nextInt(3)) + (if (nonAscii) " Café 中文 ♥" else "")
    val digits = (0 until 10).map(_ => rnd.nextInt(10)).mkString
    val phoneText =
      if (chance(SpelledShare)) digits.map(d => DigitWords(d - '0')).mkString(" ")
      else digits
    val age = (18 + rnd.nextInt(40)).toString
    val body = words(40) + s" call $phoneText " + words(120) + (if (nonAscii) " tél ♥" else "")
    val others = (0 until 3).map(k =>
      s"""<div class="cat$k"><a href="http://$siteId.backpage.com/$category/${word()}/${10000000 + rnd.nextInt(9000000)}">${word()}</a></div>""")
      .mkString
    val html =
      s"""<html><head><title>$title</title></head><body>""" +
        s"""<ul class="nav">$navHtml</ul>""" +
        s"""<div id="postingTitle">$title Report Ad</div>""" +
        s"""<div class="adInfo"> Posted: $postedText </div>""" +
        s"""<p class="metaInfoDisplay">Poster's age: $age</p>""" +
        s"""<div class="postingBody">$body</div>""" +
        s"""<div>Location: ${word()}, ${word()}</div>""" +
        s"""<div id="OtherAdsByThisUser">$others</div>""" +
        s"""<ul class="footer">$navHtml</ul></body></html>"""
    val uniqId = Seq(postDate, adId, siteId, category).mkString("-")
    val truth = AdTruth(uniqId, siteId, known && goodDate, phoneRef(body), age,
      titleRef(title), postDate)
    val line = (scrape: String) =>
      s"""{"scrape_date": "$scrape", "code": 200, "url": "${Json.esc(url)}", """ +
        s""""read": "${Json.esc(html)}", "uniq_id": "${Json.esc(uniqId)}"}"""
    (line, truth)
  }

  /** Navigation boilerplate: most of a page's bytes, as on the scraped site. */
  private lazy val navHtml: String =
    (0 until 30).map(i => s"""<li><a href="http://backpage.com/${Categories(i % Categories.length)}/$i">${words(2)}</a></li>""")
      .mkString

  /** Stream input: `files` files of `perFile` distinct ads each; a share of
    * earlier landed ads is re-delivered (a re-scrape: same `uniq_id`, later
    * scrape date) in later files. Quarantined ads are never re-delivered,
    * so the quarantine truth does not depend on how files fall into
    * batches. */
  def writeStream(dir: Path, files: Int, perFile: Int): Truth = {
    Files.createDirectories(dir)
    val all = mutable.LinkedHashMap[String, AdTruth]()
    val landedLines = mutable.ArrayBuffer[String => String]()
    var delivered = 0L
    (0 until files).foreach { f =>
      val scrape = f"2017-06-${1 + f / 24}%02d ${f % 24}%02d:00:00"
      val fresh = (0 until perFile).map(_ => ad())
      val lines = mutable.ArrayBuffer[String]()
      fresh.foreach { case (line, t) =>
        lines += line(scrape)
        if (chance(DupShare)) lines += line(scrape)
        all(t.uniqId) = t
      }
      if (landedLines.nonEmpty)
        (0 until (perFile * RedeliverShare).toInt).foreach(_ => lines += pick(landedLines)(scrape))
      fresh.filter(_._2.landed).foreach(a => landedLines += a._1)
      delivered += lines.size
      Files.write(dir.resolve(f"part-$f%05d.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    Truth(all.toMap, delivered)
  }
}

object AdGen {
  val SiteCount = 479
  val DupShare = 0.03
  val UnknownSiteShare = 0.04
  val BadDateShare = 0.03
  val NonAsciiShare = 0.10
  val SpelledShare = 0.10
  val RedeliverShare = 0.10

  val States: IndexedSeq[String] = IndexedSeq("Alabama", "Alaska", "Arizona", "Arkansas",
    "California", "Colorado", "Florida", "Georgia", "Illinois", "Indiana", "Kansas",
    "Kentucky", "Maryland", "Michigan", "Nevada", "New York", "Ohio", "Oregon", "Texas",
    "Utah", "Vermont", "Virginia", "Washington", "Wyoming")
  val Categories: IndexedSeq[String] = IndexedSeq("WomenSeekMen", "MenSeekWomen",
    "TherapeuticMassage", "Datelines", "Musicians", "Rentals")
  // letters a, u, y and consonants only: no substring of a spelled digit
  val Syllables: IndexedSeq[String] = IndexedSeq("ba", "ka", "lu", "ma", "nu", "pa", "ra",
    "su", "ta", "ya", "da", "gu", "ha", "ly", "cab", "dust", "bay", "rum", "sky", "jam")
  val DigitWords: IndexedSeq[String] = IndexedSeq("zero", "one", "two", "three", "four",
    "five", "six", "seven", "eight", "nine")

  val PostedFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("EEEE, MMMM d, yyyy h:mm a", Locale.US)
  val IsoFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss", Locale.US)

  private def ascii(s: String): String = s.filter(_ < 128)

  /** The reference's `get_phone_number` (etl_process.py:79-138) on the
    * page's body text: ASCII only, no CR/LF, lower case, punctuation other
    * than '$' and spaces removed, spelled digits replaced in zero..nine
    * order, digit runs of 7-11 kept, distinct, sorted, ';'-joined. */
  def phoneRef(body: String): String = {
    val punct = "!\"#%&'()*+,-./:;<=>?@[\\]^_`{|}~".toSet
    var t = ascii(body).filterNot(c => c == '\r' || c == '\n').toLowerCase(Locale.ROOT)
      .filterNot(c => punct(c) || c == ' ')
    DigitWords.zipWithIndex.foreach { case (w, d) => t = t.replace(w, d.toString) }
    "[0-9]+".r.findAllIn(t).filter(r => r.length >= 7 && r.length <= 11)
      .toSeq.distinct.sorted.mkString(";")
  }

  /** The reference's `get_post_title` (etl_process.py:174-182). */
  def titleRef(title: String): String = ascii(s"$title Report Ad").replace("Report Ad", "").trim
}
