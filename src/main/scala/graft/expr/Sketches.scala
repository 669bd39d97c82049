package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Static sketch kernels for large-scale dedup (LLM-training-pipeline
 * extensions; north-star ops beyond the reference surface). All hashing is
 * [[PortableHash]] (md5-derived) so the DuckDB verification oracle
 * recomputes every signature exactly (SURVEY §5.5); MinHash uses the
 * double-hashing trick `h_i = (h1 + i*h2) mod P` (Kirsch-Mitzenmacher) with
 * 28-bit components and P the largest prime below 2^28, so one md5 per
 * shingle yields the whole signature with overflow-free 64-bit arithmetic
 * in any engine. (The modulus is essential: without it `h1 + i*h2` is
 * monotone in `i*h2`, so every high-index component degenerates to
 * "argmin h2" and the signature loses independence — measured recall fell
 * from >0.99 to 0.84.)
 */
object SketchOps {

  /** Largest prime below 2^28 — the KM modulus; `h1 + 63*h2 < 2^35` keeps
    * every intermediate exact in signed 64-bit. */
  val MinHashP: Long = 268435399L

  private def tokens(text: String,
      isSep: Int => Boolean = Character.isWhitespace(_: Int)): Array[String] = {
    if (text == null) return Array.empty
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var start = -1
    var i = 0
    val n = text.length
    while (i <= n) {
      if (i == n || isSep(text.charAt(i))) {
        if (start >= 0) { out += text.substring(start, i); start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    out.toArray
  }

  /** MinHash signature over word `shingleSize`-gram shingles; documents with
    * fewer tokens than the shingle size contribute one whole-text shingle.
    * Token-less documents yield the all-MaxValue sentinel signature —
    * callers exclude them before banding (the oracle has no rows for them).
    * `seed` 42 is the portable fixture space; other seeds suffix the
    * shingle. */
  def minHashSignature(text: UTF8String, numHashes: Int, shingleSize: Int,
      seed: Long): ArrayData = {
    val toks = tokens(if (text == null) null else text.toString)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    def add(shingle: String): Unit = {
      val h15 = PortableHash.hex15(
        if (seed == 42L) shingle else shingle + " " + seed)
      val h1 = PortableHash.minhashH1(h15)
      val h2 = PortableHash.minhashH2(h15)
      var i = 0
      while (i < numHashes) {
        val h = (h1 + i * h2) % MinHashP
        if (h < mins(i)) mins(i) = h
        i += 1
      }
    }
    if (toks.length < shingleSize) {
      if (toks.nonEmpty) add(toks.mkString(" "))
    } else {
      var i = 0
      val sb = new java.lang.StringBuilder()
      while (i + shingleSize <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < shingleSize) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        add(sb.toString)
        i += 1
      }
    }
    new GenericArrayData(mins)
  }

  /** Java-regex `\s`: the six ASCII separators `[ \t\n\x0B\f\r]`. */
  private def isRegexSpace(c: Int): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Distinct word `n`-gram shingles of `text`, joined by one space, in
    * first-occurrence order — the exact-Jaccard verification space of the
    * dedup family. Tokens are the runs between Java-regex `\s` separators
    * (NOT the signature's `Character.isWhitespace`: U+3000, U+2028 and
    * friends are token characters here). `n <= 1` gives the distinct token
    * set; fewer than `n` tokens give one whole-text shingle (`""` for a
    * token-less text). Native because Catalyst eliminates no common
    * subexpressions inside lambdas: a Column form slicing `split(text)`
    * inside `transform` re-runs the regex split once per shingle. */
  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    val toks = tokens(text.toString, isRegexSpace)
    val out = new java.util.LinkedHashSet[String]()
    if (n <= 1) toks.foreach(out.add)
    else if (toks.length < n) out.add(toks.mkString(" "))
    else {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        sb.append(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        out.add(sb.toString)
        i += 1
      }
    }
    new GenericArrayData(out.toArray.map(t => UTF8String.fromString(t.asInstanceOf[String])))
  }

  /** 60-bit SimHash over unit-weight token occurrences: bit `b` is set when
    * more token hashes have bit `b` set than clear (ties → clear). 60 bits
    * (not 64) because the portable hash is the 15-hex-char md5 prefix.
    * Token-less documents yield 0 — callers exclude them before banding. */
  def simHash64(text: UTF8String, seed: Long): Long = {
    val toks = tokens(if (text == null) null else text.toString)
    val counts = new Array[Int](60)
    var t = 0
    while (t < toks.length) {
      val h = PortableHash.hex15(
        if (seed == 42L) toks(t) else toks(t) + " " + seed)
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  // Hyperplane sign matrices are deterministic in (nbits, dim, seed); cache
  // them so the per-row cost is nbits*dim multiply-adds, not hash calls.
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Double]]]()
  private def planes(nbits: Int, dim: Int, seed: Long): Array[Array[Double]] =
    planeCache.computeIfAbsent((nbits, dim, seed), { _ =>
      Array.tabulate(nbits, dim) { (j, i) =>
        val key = if (seed == 42L) String.valueOf(j * dim + i)
                  else s"${j * dim + i} $seed"
        if ((PortableHash.hex15(key) & 1L) == 0L) 1.0 else -1.0
      }
    })

  /** Random-hyperplane LSH bucket of a float vector: bit j is the sign of
    * the dot product with a deterministic ±1 hyperplane whose entry (j, i)
    * is the md5-parity of the flat index `j*dim + i`. Same-bucket vectors
    * are likely high-cosine (Charikar sign-LSH). */
  def lshBucket(vec: ArrayData, nbits: Int, seed: Long): Int = {
    val dim = vec.numElements()
    val p = planes(nbits, dim, seed)
    var bucket = 0
    var j = 0
    while (j < nbits) {
      val row = p(j)
      var dot = 0.0
      var i = 0
      while (i < dim) { dot += row(i) * vec.getFloat(i); i += 1 }
      if (dot > 0.0) bucket |= (1 << j)
      j += 1
    }
    bucket
  }
}

/** MinHash signature expression: `STRING → ARRAY<BIGINT>` (numHashes). */
case class MinHashSignature(child: Expression, numHashes: Int = 64,
    shingleSize: Int = 3, seed: Long = 42L)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_signature"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expected STRING, got ${child.dataType.sql}")
  override protected def nullSafeEval(s: Any): Any =
    SketchOps.minHashSignature(s.asInstanceOf[UTF8String], numHashes, shingleSize, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.SketchOps.minHashSignature($c, $numHashes, $shingleSize, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Word-shingle expression: `STRING → ARRAY<STRING>`, the distinct word
  * `n`-grams of [[SketchOps.wordShingles]]. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingles"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expected STRING, got ${child.dataType.sql}")
  override protected def nullSafeEval(s: Any): Any =
    SketchOps.wordShingles(s.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.SketchOps.wordShingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** SimHash expression: `STRING → BIGINT` (60-bit portable signature).
  * Near-duplicates have small hamming distance (`bit_count(a ^ b)` with
  * Spark built-ins). */
case class SimHash(child: Expression, seed: Long = 42L) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expected STRING, got ${child.dataType.sql}")
  override protected def nullSafeEval(s: Any): Any =
    SketchOps.simHash64(s.asInstanceOf[UTF8String], seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.SketchOps.simHash64($c, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sign-LSH bucket expression: `ARRAY<FLOAT> → INT` (nbits-bit bucket id). */
case class LshBucket(child: Expression, nbits: Int = 8, seed: Long = 42L)
    extends UnaryExpression with VectorTyped {
  override protected def vectorChildren: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult = checkVectorTypes()
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lsh_bucket"
  override protected def nullSafeEval(a: Any): Any =
    SketchOps.lshBucket(a.asInstanceOf[ArrayData], nbits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.SketchOps.lshBucket($c, $nbits, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
