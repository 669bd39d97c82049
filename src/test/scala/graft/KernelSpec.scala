package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

import graft.embed.HashEmbedder
import graft.expr.{SketchOps, VectorOps}
import graft.format.Citations
import graft.ingest.TextDecode
import org.apache.spark.unsafe.types.UTF8String

/** Pure-JVM kernels: vector math vs scalar reference, hash embedder
  * determinism, sketches, page-range coalescing, CSV/encoding decode. */
class KernelSpec extends AnyFunSuite {

  private def arr(xs: Float*) = new GenericArrayData(xs.toArray)

  test("cosine matches scalar reference and bounds") {
    assert(math.abs(VectorOps.cosine(arr(1f, 0f), arr(0f, 1f))) < 1e-12)
    assert(math.abs(VectorOps.cosine(arr(1f, 2f), arr(2f, 4f)) - 1.0) < 1e-12)
    assert(math.abs(VectorOps.cosine(arr(1f, 0f), arr(-1f, 0f)) + 1.0) < 1e-12)
    assert(VectorOps.cosine(arr(0f, 0f), arr(1f, 1f)) == 0.0) // zero-norm guard
    val rnd = new scala.util.Random(1)
    for (_ <- 1 to 200) {
      val a = Array.fill(16)(rnd.nextFloat() - 0.5f)
      val b = Array.fill(16)(rnd.nextFloat() - 0.5f)
      val c = VectorOps.cosine(new GenericArrayData(a), new GenericArrayData(b))
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      // dot/norms scalar recomputation
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val expect = dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
      assert(math.abs(c - expect) < 1e-9)
    }
  }

  test("nearestCentroid: skips null elements, rejects empty/all-null") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    def cent(cid: Int, xs: Float*) =
      new GenericInternalRow(Array[Any](cid, arr(xs: _*)))
    val cents = new GenericArrayData(
      Array[Any](null, cent(7, 1f, 0f), cent(9, 0f, 1f)))
    assert(VectorOps.nearestCentroid(arr(1f, 0.1f), cents) == 7)
    assert(VectorOps.nearestCentroid(arr(0.1f, 1f), cents) == 9)
    intercept[IllegalArgumentException] {
      VectorOps.nearestCentroid(arr(1f, 0f), new GenericArrayData(Array.empty[Any]))
    }
    intercept[IllegalArgumentException] {
      VectorOps.nearestCentroid(arr(1f, 0f), new GenericArrayData(Array[Any](null)))
    }
  }

  test("l2Normalize produces unit vectors; zero stays zero") {
    val n = VectorOps.l2Normalize(arr(3f, 4f))
    assert(math.abs(n.getFloat(0) - 0.6f) < 1e-6)
    assert(math.abs(n.getFloat(1) - 0.8f) < 1e-6)
    val z = VectorOps.l2Normalize(arr(0f, 0f))
    assert(z.getFloat(0) == 0f && z.getFloat(1) == 0f)
  }

  test("hash embedder: deterministic, integer-exact buckets, dim") {
    val e = HashEmbedder()
    val v1 = e.embed("the quick brown fox")
    val v2 = e.embed("the quick brown fox")
    assert(v1.toSeq == v2.toSeq)
    assert(v1.length == 64)
    // unnormalized by design: every component is a small integer count, so
    // float32 is exact and any engine (incl. the DuckDB oracle) reproduces
    // the vector bit-for-bit; cosine is scale-invariant so search semantics
    // are unchanged
    assert(v1.forall(x => x >= 0f && x == math.rint(x).toFloat))
    assert(v1.exists(_ > 0f))
    assert(e.embed("").forall(_ == 0f)) // empty -> zero vector
    assert(e.embed("ab").exists(_ != 0f)) // short token contributes itself
    // case-insensitive (lowercased before hashing)
    assert(e.embed("Quick FOX").toSeq == e.embed("quick fox").toSeq)
  }

  test("minhash: identical texts agree, estimates rank similarity") {
    def sig(s: String) = {
      val a = SketchOps.minHashSignature(UTF8String.fromString(s), 128, 1, 42L)
      (0 until 128).map(a.getLong)
    }
    val base = "a b c d e f g h i j"
    assert(sig(base) == sig(base))
    def est(x: String, y: String) =
      sig(x).zip(sig(y)).count { case (p, q) => p == q } / 128.0
    val near = est(base, "a b c d e f g h i k") // jaccard 9/11 = 0.818
    val far = est(base, "u v w x y z")
    assert(near > 0.6 && near < 1.0)
    assert(far == 0.0)
  }

  test("simhash: near texts have small hamming, disjoint vocab large") {
    def h(s: String) = SketchOps.simHash64(UTF8String.fromString(s), 42L)
    val a = h("alpha beta gamma delta epsilon zeta eta theta")
    val b = h("alpha beta gamma delta epsilon zeta eta iota")
    val c = h("one two three four five six seven eight")
    assert(java.lang.Long.bitCount(a ^ b) < java.lang.Long.bitCount(a ^ c))
    assert(h("x y z") == h("x y z"))
  }

  test("wordShingles: tokens on regex \\s only, distinct in order, " +
      "whole-text fallback, null in null out") {
    def sh(s: String, n: Int): Seq[String] = {
      val a = SketchOps.wordShingles(UTF8String.fromString(s), n)
      (0 until a.numElements()).map(a.getUTF8String(_).toString)
    }
    assert(sh(" a\tb\n\u000Bc \f\r", 1) == Seq("a", "b", "c"))
    assert(sh("a b a b a", 2) == Seq("a b", "b a"))
    assert(sh("a b a b a", 5) == Seq("a b a b a"))
    assert(sh("  a  b ", 3) == Seq("a b"))
    assert(sh("", 3) == Seq("") && sh(" \t ", 2) == Seq(""))
    assert(sh("", 1).isEmpty && sh(" \n ", 0).isEmpty)
    // U+3000 and U+00A0 are token characters, not separators
    assert(sh("x\u3000y z\u00A0w", 1) == Seq("x\u3000y", "z\u00A0w"))
    val expr = graft.expr.WordShingles(
      org.apache.spark.sql.catalyst.expressions.Literal(null,
        org.apache.spark.sql.types.StringType), 3)
    assert(expr.eval() == null)
  }

  test("WordShingles reproduces the regex-split Column form it replaced, " +
      "order included, interpreted and codegen") {
    import org.apache.spark.sql.{Column, Row, SparkSession}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    // the former Dedup.shingleSet body: the equivalence reference only
    def reference(text: Column, n: Int): Column = {
      val toks = array_remove(split(text, "\\s+"), "")
      if (n <= 1) array_distinct(toks)
      else array_distinct(
        when(size(toks) < n, array(concat_ws(" ", toks)))
          .otherwise(transform(sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
    }
    val fixed = Seq(null, "", " ", " \t\n\u000B\f\r ", "one", "one two",
      "one two three", "a b c d e", " lead", "trail \n", "\tboth\r\n",
      "a\tb\nc\u000Bd\fe\rf", "x\u3000y z", "x\u00A0y z \u00A0",
      "\u3000", "a b a b a b a b", "a a a a a a", "p q r p q r p q r s")
    // seeded random texts over a 6-word vocabulary (repeats guaranteed)
    // with separator runs mixing the six regex separators and the
    // whitespace-like characters that are NOT regex separators
    val rnd = new scala.util.Random(20261017)
    val vocab = Seq("a", "bb", "c\u00e9", "dd", "e", "f\u4e2d")
    val seps = Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "\u3000",
      "\u00A0", "\u2028", "\u001C", "\u0085")
    val random = Seq.fill(300) {
      val sb = new StringBuilder
      for (_ <- 0 until rnd.nextInt(14)) {
        if (rnd.nextInt(4) == 0) sb ++= seps(rnd.nextInt(seps.size))
        sb ++= vocab(rnd.nextInt(vocab.size))
        for (_ <- 0 to rnd.nextInt(3)) sb ++= seps(rnd.nextInt(seps.size))
      }
      sb.toString
    }
    val texts = fixed ++ random
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val local = spark.createDataFrame(
        java.util.Arrays.asList(texts.zipWithIndex.map { case (t, i) => Row(i, t) }: _*),
        StructType(Seq(StructField("i", IntegerType), StructField("t", StringType))))
      // the local relation folds in the optimizer (interpreted eval); the
      // repartitioned copy runs through whole-stage codegen
      for ((df, path) <- Seq(local -> "interpreted",
          local.repartition(2) -> "codegen"); n <- Seq(1, 2, 3, 5)) {
        val rows = df.select(col("i"), col("t"), reference(col("t"), n).as("r"),
            graft.ops.Dedup.shingleSet(col("t"), n).as("k"))
          .collect()
        assert(rows.length == texts.size)
        for (r <- rows) {
          val (ref, got) = (r.getAs[collection.Seq[String]]("r"),
            r.getAs[collection.Seq[String]]("k"))
          assert(ref == got,
            s"$path n=$n text=${Option(r.getString(1)).map(_.toSeq.map(_.toInt))}")
        }
      }
    } finally spark.stop()
  }

  test("lsh bucket: deterministic, scale-invariant, in range") {
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 50) {
      val v = Array.fill(16)(rnd.nextFloat() - 0.5f)
      val b1 = SketchOps.lshBucket(new GenericArrayData(v), 4, 42L)
      val b2 = SketchOps.lshBucket(new GenericArrayData(v), 4, 42L)
      assert(b1 == b2 && b1 >= 0 && b1 < 16)
      // cosine-LSH is scale-invariant: 2v lands in the same bucket
      val scaled = SketchOps.lshBucket(new GenericArrayData(v.map(_ * 2f)), 4, 42L)
      assert(scaled == b1)
    }
  }

  test("coalesceRanges reference cases") {
    assert(Citations.coalesceRanges(Seq(1, 2, 3, 7)) == "1-3, 7")
    assert(Citations.coalesceRanges(Seq(5)) == "5")
    assert(Citations.coalesceRanges(Seq(3, 1, 2)) == "1-3")
    assert(Citations.coalesceRanges(Seq(2, 3, 5, 9, 10)) == "2-3, 5, 9-10")
    assert(Citations.coalesceRanges(Nil) == "")
  }

  test("scoreRange formatting") {
    assert(Citations.scoreRange(0.5, 0.5) == "0.5000")
    assert(Citations.scoreRange(0.42, 0.7092) == "0.4200-0.7092")
  }

  test("decode: utf-8, BOM strip, latin-1 fallback, blank -> null") {
    assert(TextDecode.decode("héllo".getBytes("UTF-8")) == "héllo")
    assert(TextDecode.decode(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      "abc".getBytes("UTF-8")) == "abc")
    assert(TextDecode.decode("café".getBytes("ISO-8859-1")) == "café")
    assert(TextDecode.decode("   ".getBytes("UTF-8")) == null)
    assert(TextDecode.decode(Array.emptyByteArray) == null)
  }

  test("csv flatten: quotes, embedded commas, escaped quotes") {
    val rows = TextDecode.parseCsv("a,b\n\"x, y\",\"he said \"\"hi\"\"\"\nlast,row\n")
    assert(rows == Seq(Seq("a", "b"), Seq("x, y", "he said \"hi\""), Seq("last", "row")))
    assert(TextDecode.decodeCsv("a,b\nc,d".getBytes("UTF-8")) == "a b\nc d")
  }

  test("rag prompt assembly shape") {
    val p = graft.rag.RagPrompt.assemble("why?", Seq("c1", "c2"))
    assert(p.contains("c1\n\n---\n\nc2"))
    assert(p.endsWith("\n\n-----\n\nwhy?"))
    assertThrows[IllegalArgumentException](graft.rag.RagPrompt.assemble("q", Nil))
  }

  test("spanCut kernel: mask semantics, clamping, null spans") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    def spans(ps: (Int, Int)*) = new GenericArrayData(ps.map { case (s, e) =>
      new GenericInternalRow(Array[Any](s, e)) }.toArray)
    def cut(text: String, sp: GenericArrayData) = {
      val r = graft.expr.SpanCutOps.cut(UTF8String.fromString(text), sp)
      (r.getLong(0), r.getLong(1), r.getUTF8String(2).toString)
    }
    // null span list = keep everything (the common left-join row)
    assert(cut("a b c", null) == (3L, 0L, "a b c"))
    // basic interval cut, whitespace re-normalized to single spaces
    assert(cut("a  b\tc d e", spans((1, 3))) == (5L, 2L, "a d e"))
    // overlapping spans cover the union, not the sum
    assert(cut("a b c d e", spans((0, 3), (2, 4))) == (5L, 4L, "e"))
    // out-of-range ends clamp; negative starts clamp
    assert(cut("a b c", spans((-2, 2), (2, 99))) == (3L, 3L, ""))
    // empty text
    assert(cut("", spans((0, 1))) == (0L, 0L, ""))
  }

  test("unicodeNormalize kernel: forms, identity fast path, null") {
    import graft.expr.UnicodeNormalize
    val NFC = java.text.Normalizer.Form.NFC.ordinal
    val NFD = java.text.Normalizer.Form.NFD.ordinal
    val NFKC = java.text.Normalizer.Form.NFKC.ordinal
    def u(s: String) = UTF8String.fromString(s)
    // combining acute recomposes under NFC
    assert(UnicodeNormalize.normalizeUTF8(u("mérge"), NFC).toString == "mérge")
    // NFD decomposes the precomposed form back
    assert(UnicodeNormalize.normalizeUTF8(u("mérge"), NFD).toString == "mérge")
    // NFKC folds compatibility forms (ligature, full-width)
    assert(UnicodeNormalize.normalizeUTF8(u("ﬁle １２３"), NFKC).toString == "file 123")
    // already-normalized input returns the SAME UTF8String (no realloc)
    val in = u("plain ascii")
    assert(UnicodeNormalize.normalizeUTF8(in, NFC) eq in)
    assert(UnicodeNormalize.normalizeUTF8(null, NFC) == null)
  }
}
