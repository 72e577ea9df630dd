package graft.perfbench

import graft.model.{PdfBlock, RawDoc}
import java.util.SplittableRandom

/** Seeded input generators. Every input a workload reads is a pure
  * function of (seed, size), so two runs with one seed see identical
  * files and two seeds see statistically identical ones.
  */
object Gen {

  /** The test-data corpus vocabulary (TESTDATA.md): its
    * `documents.parquet` texts are bags of these words, "dup" marking a
    * near-duplicate.
    */
  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  /** Language shares of the test-data corpus (en 41%, the rest ~15% each). */
  private val Langs: Array[(String, Int)] =
    Array("en" -> 41, "zh" -> 15, "de" -> 14, "fr" -> 15, "es" -> 15)

  final case class DocRow(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  /** First doc id of a seed's corpus. Ids are consecutive from here, so
    * DocGen's id-keyed mix (html/pdf/text by id % 10, a 40x giant every
    * 101st id, page-cap rejects every 97th) has the same shares under
    * every seed while the ids themselves move with it.
    */
  def idBase(seed: Long): Long = 1000L * Math.floorMod(seed * 7919L + 17L, 1000003L)

  private def words(rnd: SplittableRandom, targetChars: Int): String = {
    val sb = new java.lang.StringBuilder(targetChars + 16)
    while (sb.length < targetChars) {
      if (sb.length > 0) sb.append(' ')
      sb.append(Vocab(rnd.nextInt(Vocab.length)))
    }
    sb.toString
  }

  /** The `documents` table: base texts of 40-580 chars; every 20th doc a
    * near duplicate (an earlier text + " dup"), every 500th an exact
    * duplicate and every 50th a boilerplate doc (one short phrase
    * repeated), so exact dedup, MinHash-LSH, connected components and the
    * repetition filter all have work. The duplicate pattern is fixed by
    * position, so every seed yields the same duplicate-graph shape.
    */
  def documents(seed: Long, n: Int): IndexedSeq[DocRow] = {
    val rnd = new SplittableRandom(seed)
    val base = idBase(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i % 20 == 10) texts(i - 10) + " dup"
        else if (i % 500 == 255) texts(i - 50)
        else if (i % 50 == 25) {
          val phrase = words(rnd, 12)
          Seq.fill(8 + rnd.nextInt(25))(phrase).mkString(" ")
        } else words(rnd, 40 + rnd.nextInt(540))
      texts(i) = text
      var pick = rnd.nextInt(100)
      val lang = Langs.find { case (_, w) => pick -= w; pick < 0 }.get._1
      DocRow(base + i, text, lang, s"src${i % 20}", text.length.toLong)
    }
  }

  // ---------------------------------------------------- convert_heavy

  private val Names = Array("John Smith", "Sarah Chen", "Michael Garcia", "Emily Patel")
  private val Cities = Array("Chicago", "Houston", "Seattle", "Boston")

  private def linkList(rnd: SplittableRandom, sb: java.lang.StringBuilder, n: Int,
      prefix: String): Unit = {
    sb.append("<ul class=\"menu\">")
    var i = 0
    while (i < n) {
      sb.append("<li class=\"menu-item\"><a href=\"/").append(prefix).append('/')
        .append(rnd.nextInt(100000)).append("\">")
        .append(Vocab(rnd.nextInt(Vocab.length))).append(' ')
        .append(Vocab(rnd.nextInt(Vocab.length))).append("</a></li>")
      i += 1
    }
    sb.append("</ul>")
  }

  private def linkGrid(rnd: SplittableRandom, sb: java.lang.StringBuilder, rows: Int,
      cols: Int): Unit = {
    sb.append("<table class=\"grid\">")
    var r = 0
    while (r < rows) {
      sb.append("<tr>")
      var c = 0
      while (c < cols) {
        sb.append("<td><a href=\"/g/").append(r).append('/').append(c).append("\">")
          .append(Vocab(rnd.nextInt(Vocab.length))).append("</a></td>")
        c += 1
      }
      sb.append("</tr>")
      r += 1
    }
    sb.append("</table>")
  }

  private def repeat(n: Int)(f: Int => Unit): Unit = {
    var i = 0
    while (i < n) { f(i); i += 1 }
  }

  /** Boilerplate-dominated page (120-220 KB): large style and script
    * blocks, long nav/aside link lists, wide link-grid tables in a
    * sidebar and the footer, and 20-60 nested wrapper divs around a short
    * article (two paragraphs and a small table).
    */
  private def heavyHtml(rnd: SplittableRandom, id: Long): RawDoc = {
    val sb = new java.lang.StringBuilder(128 * 1024)
    sb.append("<!DOCTYPE html><html><head><title>Page ").append(id).append("</title><style>")
    repeat(300 + rnd.nextInt(300)) { i =>
      sb.append(".c").append(i).append("{margin:").append(i % 7).append("px;padding:0 ")
        .append(i % 5).append("px;color:#").append(100 + i).append("}")
    }
    sb.append("</style><script>")
    repeat(200 + rnd.nextInt(200)) { i =>
      sb.append("var v").append(i).append("=document.querySelector('.c").append(i)
        .append("');if(v").append(i).append("){v").append(i).append(".hidden=true;}")
    }
    sb.append("</script></head><body><header><nav>")
    linkList(rnd, sb, 300 + rnd.nextInt(300), "nav")
    sb.append("</nav></header><div class=\"sidebar\">")
    linkGrid(rnd, sb, 20 + rnd.nextInt(11), 20 + rnd.nextInt(11))
    sb.append("</div>")
    val depth = 20 + rnd.nextInt(41)
    repeat(depth)(i => sb.append("<div class=\"wrap w").append(i).append("\">"))
    sb.append("<main><article><h1>Report ").append(id).append("</h1><p>")
      .append(words(rnd, 100 + rnd.nextInt(150))).append(". Contact ")
      .append(Names(rnd.nextInt(Names.length))).append(" in ")
      .append(Cities(rnd.nextInt(Cities.length))).append(".</p><p>")
      .append(words(rnd, 60 + rnd.nextInt(100))).append(".</p><table><tr>")
    repeat(4)(c => sb.append("<th>k").append(c).append("</th>"))
    sb.append("</tr>")
    repeat(3) { _ =>
      sb.append("<tr>")
      repeat(4)(_ => sb.append("<td>").append(rnd.nextInt(1000)).append("</td>"))
      sb.append("</tr>")
    }
    sb.append("</table></article></main>")
    repeat(depth)(_ => sb.append("</div>"))
    sb.append("<aside>")
    linkList(rnd, sb, 150 + rnd.nextInt(150), "related")
    sb.append("</aside><footer>")
    linkGrid(rnd, sb, 10 + rnd.nextInt(6), 8)
    sb.append("<p>&copy; 2024 Example</p></footer><script>")
    repeat(100 + rnd.nextInt(100)) { i =>
      sb.append("track('ev").append(i).append("',{id:").append(id).append("});")
    }
    sb.append("</script></body></html>")
    val html = sb.toString
    RawDoc(s"doc$id", "html", html, Seq.empty, "", html.length.toLong, 1)
  }

  /** Dense four-column PDF pages (2-5 pages): fifteen one- or two-word
    * blocks per column stacked 8pt apart, so each column merges into one block per
    * page, and a figure every other page.
    */
  private def densePdf(rnd: SplittableRandom, id: Long): RawDoc = {
    val pages = 2 + rnd.nextInt(4)
    val blocks = for {
      p <- 1 to pages
      col <- 0 until 4
      row <- 0 until 15
    } yield PdfBlock(p, 36.0 + col * 135.0, 60.0 + row * 44.0, 156.0 + col * 135.0,
      96.0 + row * 44.0, words(rnd, 4 + rnd.nextInt(10)), is_image = false, "")
    val figures = (1 to pages by 2).map(p =>
      PdfBlock(p, 200.0, 730.0, 400.0, 780.0, s"figure $p", is_image = true,
        s"img://doc$id/p$p/0"))
    val all = blocks ++ figures
    RawDoc(s"doc$id", "pdf_blocks", "", all, "", all.map(_.text.length.toLong).sum, pages)
  }

  /** convert_heavy input: 80% boilerplate HTML pages, 20% dense PDFs. */
  def convertDocs(seed: Long, n: Int): IndexedSeq[RawDoc] = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val base = idBase(seed)
    (0 until n).map { i =>
      if (rnd.nextInt(5) < 4) heavyHtml(rnd, base + i) else densePdf(rnd, base + i)
    }
  }
}
