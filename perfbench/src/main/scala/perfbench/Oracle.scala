package perfbench

import java.util.regex.Pattern

import org.apache.spark.sql.functions.col

import graft.embed.HashEmbedder
import graft.expr.TextNorm
import graft.store.VectorStore

final case class StoredChunk(id: Long, vector: Array[Float], text: String,
    documentType: String, filePath: String)

final case class Hit(id: Long, sim: Double) {
  def score: Double = math.min(math.max(sim, 0.0), 1.0)
}

/** A query as the engine receives it, with the post-top-k filters. */
final case class Question(id: String, text: String, searchTerm: Option[String],
    documentType: Option[String])

/**
 * Exact search over the stored vectors, computed on the driver by the
 * benchmark itself: cosine in double over the float vectors, top-k by
 * (similarity desc, id asc), the threshold applied after top-k, then the
 * term and document-type filters.
 */
final class Oracle(val chunks: Array[StoredChunk]) {
  val k = 6
  val threshold = 0.4
  private val byId = chunks.map(c => c.id -> c).toMap
  private val embedder = HashEmbedder()

  def chunk(id: Long): StoredChunk = byId(id)

  def queryVector(text: String): Array[Float] =
    embedder.embed(TextNorm.normalizeQuery(text))

  /** Top-k after threshold, before the post-top-k filters. */
  def topK(text: String): Seq[Hit] = {
    val q = queryVector(text)
    chunks.iterator.map(c => Hit(c.id, Oracle.cosine(c.vector, q))).toSeq
      .sortBy(h => (-h.sim, h.id)).take(k).filter(_.sim >= threshold)
  }

  /** The hit list a search returns: filtered, ordered by clipped score. */
  def hits(q: Question): Seq[Hit] = {
    val term = q.searchTerm.map(t => Pattern.compile("(?i)" + Pattern.quote(t)))
    topK(q.text)
      .filter(h => term.forall(_.matcher(byId(h.id).text).find()))
      .filter(h => q.documentType.forall(_ == byId(h.id).documentType))
      .sortBy(h => (-h.score, h.id))
  }
}

object Oracle {
  def load(store: VectorStore, db: String): Oracle =
    new Oracle(store.vectors(db)
      .select(col("id"), col("vector"), col("text"), col("metadata.document_type"),
        col("metadata.file_path"))
      .collect().map { r =>
        StoredChunk(r.getLong(0), r.getSeq[Float](1).toArray, r.getString(2),
          r.getString(3), r.getString(4))
      }.sortBy(_.id))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** A query that is a span of 8-24 words of a stored chunk. */
  def span(rnd: scala.util.Random, text: String): String = {
    val words = text.split(" ").filter(_.nonEmpty)
    val n = math.min(words.length, 8 + rnd.nextInt(17))
    val from = rnd.nextInt(words.length - n + 1)
    words.slice(from, from + n).mkString(" ")
  }
}
