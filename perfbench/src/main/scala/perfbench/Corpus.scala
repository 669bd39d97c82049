package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One generated source document. `text` is what extraction must yield
  * from `bytes` (tags become single spaces, CSV rows join fields with a
  * space), so `chunks` — the 1200/600 window count over it — is known
  * before the engine runs. `cluster` is the planted near-duplicate group,
  * -1 for a document with no planted copy. */
final case class Doc(id: Long, fileName: String, bytes: Array[Byte],
    text: String, chunks: Int, cluster: Int)

final case class CorpusStats(sourceBytes: Long, documents: Int, chunks: Long,
    planted: Int, formats: Map[String, Int]) {
  def json: String =
    s"""{"source_bytes": $sourceBytes, "documents": $documents, "chunks": $chunks, """ +
      s""""planted_duplicates": $planted, "formats": {""" +
      formats.toSeq.sorted.map { case (f, n) => s""""$f": $n""" }.mkString(", ") + "}}"
}

/**
 * Seeded corpus generator. Words come from a fixed 24k vocabulary drawn
 * Zipf(1.0): rank 1-31 are the tokens of the sf testdata documents, the
 * rest are synthetic English, Spanish (accents, some in decomposed form)
 * and Chinese words plus full-width and ligature forms, so the index-side
 * NFKC normalization rewrites real text. A small vocabulary would make
 * every chunk an LSH collision.
 */
object Corpus {
  val ChunkSize = 1200
  val ChunkOverlap = 600

  private val sfTokens = Array("the", "a", "data", "spark", "query", "table",
    "vector", "column", "join", "stream", "group", "big", "value", "fast",
    "hash", "customer", "sort", "small", "merge", "window", "row", "batch",
    "line", "filter", "order", "slow", "agg", "key", "part", "scan", "dup")

  val Vocabulary: Array[String] = {
    val rnd = new Random(20240611L)
    val seen = scala.collection.mutable.LinkedHashSet[String](sfTokens.toIndexedSeq: _*)
    val cons = "bcdfghjklmnprstvz"
    val vow = "aeiou"
    val esVow = "aeiouáéíóúü"
    def syl(v: String): String =
      s"${cons(rnd.nextInt(cons.length))}${v(rnd.nextInt(v.length))}" +
        (if (rnd.nextInt(3) == 0) cons(rnd.nextInt(cons.length)).toString else "")
    while (seen.size < 24000) {
      val w = rnd.nextInt(20) match {
        case k if k < 11 => (0 until 1 + rnd.nextInt(3)).map(_ => syl(vow)).mkString
        case k if k < 14 => (0 until 2 + rnd.nextInt(2)).map(_ => syl(esVow)).mkString +
          (if (rnd.nextBoolean()) "ñ" else "")
        case 14 => // decomposed accent: NFKC composes it
          (0 until 2).map(_ => syl(vow)).mkString + "e\u0301"
        case k if k < 19 =>
          (0 until 2 + rnd.nextInt(2)).map(_ => (0x4E00 + rnd.nextInt(0x9FA5 - 0x4E00)).toChar).mkString
        case _ => // full-width Latin or a ligature: NFKC folds both to ASCII
          if (rnd.nextBoolean()) syl(vow).map(c => (c - 'a' + 0xFF41).toChar)
          else syl(vow) + "ﬁ" + syl(vow)
      }
      seen += w
    }
    seen.toArray
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Vocabulary.length)(r => 1.0 / (r + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def word(rnd: Random): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    Vocabulary(math.min(if (i >= 0) i else -i - 1, Vocabulary.length - 1))
  }

  /** Prose of at least `chars` characters: sentences of words, paragraphs
    * separated by a blank line. */
  def prose(rnd: Random, chars: Int): String = {
    val sb = new java.lang.StringBuilder(chars + 64)
    while (sb.length < chars) {
      val n = 6 + rnd.nextInt(14)
      for (i <- 0 until n) { if (i > 0) sb.append(' '); sb.append(word(rnd)) }
      sb.append(if (rnd.nextInt(6) == 0) ".\n\n" else ". ")
    }
    sb.toString.strip()
  }

  /** Fixed-window chunk count: windows of [[ChunkSize]] advancing by
    * `ChunkSize - ChunkOverlap` over the stripped text, empty windows
    * dropped. */
  def chunkCount(text: String): Int = {
    val clean = text.strip()
    val step = ChunkSize - ChunkOverlap
    var start = 0
    var n = 0
    while (start < clean.length) {
      if (!clean.substring(start, math.min(start + ChunkSize, clean.length)).isBlank) n += 1
      start += step
    }
    n
  }

  private val tag = java.util.regex.Pattern.compile("<[^>]+>")

  /** Render `body` as one of the four source formats. */
  private def render(format: String, title: String, body: String,
      rnd: Random): (Array[Byte], String) = format match {
    case "txt" => (utf8(body), body)
    case "md" =>
      val md = s"# $title\n\n$body\n"
      (utf8(md), md)
    case "html" =>
      val paras = body.split("\n\n").map(p => s"<p>$p</p>").mkString("\n")
      val html = s"<!DOCTYPE html>\n<html><head><title>$title</title></head>" +
        s"<body><h1>$title</h1>\n$paras\n</body></html>\n"
      (utf8(html), tag.matcher(html).replaceAll(" "))
    case "csv" =>
      val words = body.split("\\s+").filter(_.nonEmpty).map(_.stripSuffix("."))
      val rows = ArrayBuffer(Seq("id", "term", "note", "label"))
      var i = 0
      while (i < words.length) {
        val w = math.min(1 + rnd.nextInt(3), words.length - i)
        val note = words.slice(i + 1, i + w).mkString(" ")
        rows += Seq(rows.length.toString, words(i), if (note.isEmpty) "-" else note,
          word(rnd))
        i += w
      }
      (utf8(rows.map(_.mkString(",")).mkString("", "\n", "\n")),
        rows.map(_.mkString(" ")).mkString("\n"))
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** Source files for the create pipeline: `n` documents of 2,400-6,000
    * characters of prose (4-10 chunks each), formats mixed 4:3:2:1 as
    * txt:md:html:csv. */
  def files(seed: Long, n: Int): Seq[Doc] = {
    val rnd = new Random(seed)
    (0 until n).map { i =>
      val format = rnd.nextInt(10) match {
        case k if k < 4 => "txt"
        case k if k < 7 => "md"
        case k if k < 9 => "html"
        case _ => "csv"
      }
      val title = (0 until 4).map(_ => word(rnd)).mkString(" ")
      val (bytes, text) = render(format, title, prose(rnd, 2400 + rnd.nextInt(3600)), rnd)
      Doc(i.toLong, f"doc_$i%05d.$format", bytes, text, chunkCount(text), -1)
    }
  }

  /** Plain-text documents for curation: `n` documents of 5,800-6,200
    * characters, among them near-duplicate clusters of sizes
    * [[PlantedClusters]] (an original and copies with 2% of the words
    * replaced), which dedup must fold back to one survivor each. The
    * cluster shapes are fixed so every seed does the same amount of work;
    * texts and ids are seeded, and ids are shuffled so the survivor is no
    * particular member. */
  def curation(seed: Long, n: Int): Seq[Doc] = {
    val rnd = new Random(seed)
    val texts = ArrayBuffer.empty[(String, Int)]
    for ((size, cluster) <- PlantedClusters.zipWithIndex) {
      val base = prose(rnd, 5800 + rnd.nextInt(400))
      texts += (base -> cluster)
      for (_ <- 1 until size) {
        val words = base.split(" ")
        for (j <- words.indices if rnd.nextDouble() < 0.02) words(j) = word(rnd)
        texts += (words.mkString(" ") -> cluster)
      }
    }
    while (texts.length < n) texts += (prose(rnd, 5800 + rnd.nextInt(400)) -> -1)
    val ids = rnd.shuffle(texts.indices.toIndexedSeq)
    texts.zip(ids).map { case ((t, c), id) =>
      Doc(id.toLong, f"cur_$id%05d.txt", utf8(t), t, chunkCount(t), c)
    }.sortBy(_.id).toSeq
  }

  val PlantedClusters: Seq[Int] = Seq(3, 2)

  def stats(docs: Seq[Doc]): CorpusStats =
    CorpusStats(docs.map(_.bytes.length.toLong).sum, docs.length,
      docs.map(_.chunks.toLong).sum, docs.count(_.cluster >= 0),
      docs.groupBy(d => d.fileName.substring(d.fileName.lastIndexOf('.') + 1))
        .view.mapValues(_.size).toMap)

  def write(dir: Path, docs: Seq[Doc]): Unit = {
    Files.createDirectories(dir)
    docs.foreach(d => Files.write(dir.resolve(d.fileName), d.bytes))
  }
}
