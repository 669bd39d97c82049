package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lower, regexp_extract}

import graft.format.{Citations, ContextFormatter}
import graft.ingest.IngestJob
import graft.ops.Dedup
import graft.query.Searcher
import graft.rag.{EchoChatClient, RagChat, RagPrompt}
import graft.store.VectorStore

/**
 * One workload: a set-up that runs several times (the last one stays) and
 * a warm-up, then a unit operation the loop repeats. `op` and `traced` run
 * the same operation — `traced` calls the engine layer by layer under
 * spans — and both return whether the output passed the workload's check.
 */
trait Workload {
  /** Builds the inputs; runs [[Main.SetupReps]] times, the last one stays. */
  def setup(rep: Int): Unit
  /** Runs once after the set-ups: the first operations of a session plan
    * and compile code, which users pay once, not per operation. */
  def warmUp(): Unit
  def corpus: CorpusStats
  def op(i: Int): Boolean
  def traced(i: Int, t: Tracer): Boolean
  /** The workload's own headline figures, from the unit-op latencies. */
  def headline(latMs: Seq[Double]): Seq[(String, Double, String)]
  /** Per-layer metrics from the traced run's spans. */
  def layers(rs: Seq[SpanReport]): Map[String, Double]
  /** Sum of the stage spans of one traced op, to set against an untraced
    * op's wall time. */
  def tracedWallMs(rs: Seq[SpanReport]): Seq[Double]
}

object Workloads {
  val Db = "bench"

  def apply(name: String, spark: SparkSession, seed: Long, work: Path,
      tracer: Option[Tracer]): Workload = name match {
    case "rag_serve" => new RagServe(spark, seed, work, tracer)
    case "curate" => new Curate(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
    }

  def named(rs: Seq[SpanReport], name: String): Seq[SpanReport] = rs.filter(_.span.name == name)
  def med(rs: Seq[SpanReport], name: String)(f: SpanReport => Double): Double =
    median(named(rs, name).map(f))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def treeFiles(p: Path, suffix: String): Long = {
    val s = Files.walk(p)
    try s.filter(x => x.getFileName.toString.endsWith(suffix)).count()
    finally s.close()
  }
}

import Workloads._

/** The create pipeline that builds a store. Untraced it is one
  * `IngestJob.run`; traced, its stages run one at a time, each
  * materialized, so every stage gets its own span. */
object CreateStore {
  val Stages = Seq("ingest.extract", "expr.vectorize", "store.write_vectors", "store.write_meta")

  /** Builds `<wh>/bench` from the files under `src`; returns the extracted
    * document and stored chunk counts. */
  def build(spark: SparkSession, src: Path, wh: Path, tracer: Option[Tracer],
      request: Int): (Long, Long) = tracer match {
    case None =>
      val r = IngestJob.run(spark, src.toString, wh.toString, Db)
      (r.documents, r.chunks)
    case Some(t) =>
      val store = new VectorStore(spark, wh.toString)
      val cfg = IngestJob.Config()
      val (docs, nDocs, _) = t.span("ingest.extract", request) {
        val d = IngestJob.extract(spark, src.toString).cache()
        val matched = spark.read.format("binaryFile").load(src.toString)
          .select(lower(regexp_extract(col("path"), "(\\.[^./\\\\]+)$", 1)).as("ext"))
          .filter(col("ext").isin(".txt", ".md", ".html", ".csv")).count()
        (d, d.count(), matched)
      }(r => Map("documents" -> r._2.toDouble, "matched" -> r._3.toDouble))
      val vecs = t.span("expr.vectorize", request) {
        val v = IngestJob.vectorize(docs, cfg).cache()
        (v, v.count())
      }(r => Map("chunks" -> r._2.toDouble))._1
      t.span("store.write_vectors", request)(store.writeVectors(Db, vecs))(_ =>
        Map("files" -> treeFiles(wh.resolve(Db).resolve("vectors"), ".parquet").toDouble))
      val nVec = t.span("store.write_meta", request) {
        store.writeDocuments(Db, docs.select(col("file_name"), col("hash"),
          col("file_path"), col("text").as("page_content")))
        val written = store.vectors(Db)
        store.writeChunkDocMap(Db,
          written.select(col("id").as("chunk_id"), col("metadata.hash").as("hash")))
        val n = written.count()
        store.writeIndexMetadata(Db, graft.model.IndexMetadata(distance_metric = "cosine",
          dimensions = cfg.dim, vector_type = "float32", index_type = "FLAT", num_vectors = n))
        store.catalogAdd(Db, graft.model.DatabaseInfo(cfg.model, cfg.chunkSize, cfg.chunkOverlap))
        n
      }()
      vecs.unpersist()
      docs.unpersist()
      (nDocs, nVec)
  }

  def layers(rs: Seq[SpanReport], storeBytes: Double): Map[String, Double] = Map(
    "ingest.extract.wall_s" -> med(rs, "ingest.extract")(_.span.wallMs / 1e3),
    "ingest.extract.cpu_s" -> med(rs, "ingest.extract")(_.totals.cpuNs / 1e9),
    "ingest.extract.kept_frac" -> med(rs, "ingest.extract")(r =>
      ratio(r.span.counts("documents"), r.span.counts("matched"))),
    "expr.vectorize.wall_s" -> med(rs, "expr.vectorize")(_.span.wallMs / 1e3),
    "expr.vectorize.cpu_s" -> med(rs, "expr.vectorize")(_.totals.cpuNs / 1e9),
    "expr.vectorize.chunks" -> med(rs, "expr.vectorize")(_.span.counts("chunks")),
    "store.write_vectors.wall_s" -> med(rs, "store.write_vectors")(_.span.wallMs / 1e3),
    "store.write_vectors.shuffle_bytes" ->
      med(rs, "store.write_vectors")(_.totals.shuffleWriteBytes.toDouble),
    "store.write_vectors.files" -> med(rs, "store.write_vectors")(_.span.counts("files")),
    "store.bytes_written" -> storeBytes,
    "store.write_meta.wall_s" -> med(rs, "store.write_meta")(_.span.wallMs / 1e3),
    "create.jobs" -> median(rs.filter(r => Stages.contains(r.span.name))
      .groupBy(_.span.request).values.map(_.map(_.totals.jobs.toDouble).sum).toSeq))
}

/** rag_serve: each set-up runs the create pipeline over seeded source
  * files into a fresh store and warms it; then one client in a closed loop
  * sends RAG asks (EchoChatClient completion), a seeded share with a search
  * term or a document-type filter. A traced run builds the store stage by
  * stage and also sends the question set as one `searchMany` batch per
  * traced ask, so create, single-ask and batched-search layers all report. */
final class RagServe(spark: SparkSession, seed: Long, work: Path,
    tracer: Option[Tracer]) extends Workload {
  val Sources = 60
  val Questions = 64
  private var searcher: Searcher = _
  private var oracle: Oracle = _
  private var questions: IndexedSeq[Question] = _
  var corpus: CorpusStats = _
  private var buildMs = Vector.empty[Double]
  private var storeBytes = Vector.empty[Double]

  def setup(rep: Int): Unit = {
    val docs = Corpus.files(seed, Sources)
    corpus = Corpus.stats(docs)
    val dir = work.resolve(s"store-$rep")
    Corpus.write(dir.resolve("src"), docs)
    val t0 = System.nanoTime()
    val (nDocs, nChunks) = CreateStore.build(spark, dir.resolve("src"), dir.resolve("wh"), tracer, rep)
    buildMs :+= (System.nanoTime() - t0) / 1e6
    val store = new VectorStore(spark, dir.resolve("wh").toString)
    // the create check: counts as the generator predicts them
    require(nDocs == corpus.documents && nChunks == corpus.chunks &&
      store.indexMetadata(Db).num_vectors == corpus.chunks,
      s"store holds $nDocs documents / $nChunks chunks, expected ${corpus.documents} / ${corpus.chunks}")
    storeBytes :+= treeBytes(dir.resolve("wh").resolve(Db)).toDouble
    if (searcher != null) searcher.cool(Db)
    searcher = new Searcher(spark, store)
    searcher.warm(Db)
    oracle = Oracle.load(store, Db)
    questions = askable(new Random(seed ^ 0x5eedL))
  }

  def warmUp(): Unit = (0 until 16).foreach(op)

  /** Spans of stored chunks; 20% carry a search term taken from the span,
    * 20% the document-type filter. A question whose exact hit list is
    * empty is redrawn, since an ask with no context is an error. */
  private def askable(rnd: Random): IndexedSeq[Question] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Question]
    while (out.length < Questions) {
      val text = Oracle.span(rnd, oracle.chunks(rnd.nextInt(oracle.chunks.length)).text)
      val roll = rnd.nextInt(10)
      val term = if (roll < 2) text.split(" ").filter(_.length >= 3).headOption else None
      val q = Question(s"q${out.length}", text, term,
        if (roll >= 8) Some("document") else None)
      if (oracle.hits(q).nonEmpty) out += q
    }
    out.toIndexedSeq
  }

  private def params(q: Question) =
    Searcher.Params(searchTerm = q.searchTerm, documentTypeFilter = q.documentType)

  private def check(q: Question, a: RagChat.Answer): Boolean = {
    val hits = oracle.hits(q)
    val contexts = hits.map(h => ContextFormatter.cleanContext(oracle.chunk(h.id).text))
    val cits = hits.groupBy(h => oracle.chunk(h.id).filePath).toSeq
      .map { case (path, hs) => (hs.map(_.score).min, path, hs.map(_.score).max) }
      .sortBy(c => (c._1, c._2))
    a.contexts == contexts && a.citations.length == cits.length &&
      a.citations.zip(cits).forall { case (c, (lo, path, hi)) =>
        c.file_path == path && c.min_score == lo &&
          c.score_range == (if (lo == hi) f"$lo%.4f" else f"$lo%.4f-$hi%.4f")
      }
  }

  def op(i: Int): Boolean = {
    val q = questions(i % questions.length)
    check(q, RagChat.ask(searcher, Db, q.text, params(q), new EchoChatClient))
  }

  /** `searchMany` over all questions; every hit list must equal the exact
    * top-k (no post-top-k filters on this path). */
  private def batchMatches(): Boolean = {
    val got = searcher.searchMany(Db, questions.map(q => (q.id, q.text)))
      .select("query_id", "id", "similarity_score").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq)
      .toMap
    questions.forall { q =>
      val want = oracle.topK(q.text).sortBy(h => (-h.score, h.id)).map(h => (h.id, h.score))
      got.getOrElse(q.id, Nil) == want
    }
  }

  /** The steps of `RagChat.ask`, each under its own span, then one
    * batched search. */
  def traced(i: Int, t: Tracer): Boolean = {
    val batchOk = t.span("query.search_many", i)(batchMatches())()
    val q = questions(i % questions.length)
    t.span("embed.query", i)(oracle.queryVector(q.text))()
    val answer = t.span("rag.ask", i) {
      val hits = t.span("query.search", i)(searcher.search(Db, q.text, params(q)))()
      hits.cache()
      try {
        val rows = t.span("query.lookup", i)(
          hits.select(col("text"), col("metadata.file_name")).collect())(rows =>
          Map("kept" -> rows.length.toDouble, "top_k" -> oracle.topK(q.text).length.toDouble))
        val contexts = rows.map(r => ContextFormatter.cleanContext(r.getString(0))).toIndexedSeq
        val text = new EchoChatClient().complete(RagPrompt.systemMessage,
          RagPrompt.assemble(q.text, contexts), _ => ())
        val cits = t.span("format.citations", i)(
          Citations.citations(hits.select(col("metadata"), col("similarity_score"))))()
        RagChat.Answer(text, contexts, cits)
      } finally hits.unpersist()
    }()
    batchOk && check(q, answer)
  }

  def headline(latMs: Seq[Double]): Seq[(String, Double, String)] = Seq(
    ("ask_p50_ms", median(latMs), "ms"),
    ("ask_p95_ms", percentile(latMs, 95), "ms"),
    ("asks", latMs.length.toDouble, "count"),
    ("create_mb_per_s", corpus.sourceBytes / 1e6 / (median(buildMs) / 1e3), "MB/s"),
    ("store_bytes_per_source_byte", median(storeBytes) / corpus.sourceBytes, "ratio"))

  def tracedWallMs(rs: Seq[SpanReport]): Seq[Double] = named(rs, "rag.ask").map(_.span.wallMs)

  def layers(rs: Seq[SpanReport]): Map[String, Double] = CreateStore.layers(rs, median(storeBytes)) ++ Map(
    "embed.query.us" -> med(rs, "embed.query")(_.span.wallMs * 1e3),
    "query.search.wall_ms" -> med(rs, "query.search")(_.span.wallMs),
    "query.search.driver_ms" -> med(rs, "query.search")(_.driverMs),
    "query.search.jobs" -> med(rs, "query.search")(_.totals.jobs.toDouble),
    "query.search.cpu_ms" -> med(rs, "query.search")(_.totals.cpuNs / 1e6),
    "query.lookup.wall_ms" -> med(rs, "query.lookup")(_.span.wallMs),
    "query.lookup.jobs" -> med(rs, "query.lookup")(_.totals.jobs.toDouble),
    "query.lookup.kept_frac" -> {
      val l = named(rs, "query.lookup")
      ratio(l.map(_.span.counts("kept")).sum, l.map(_.span.counts("top_k")).sum)
    },
    "format.citations.wall_ms" -> med(rs, "format.citations")(_.span.wallMs),
    "format.citations.jobs" -> med(rs, "format.citations")(_.totals.jobs.toDouble),
    "rag.ask.jobs" -> med(rs, "rag.ask")(_.totals.jobs.toDouble),
    "rag.ask.driver_ms" -> med(rs, "rag.ask")(_.driverMs),
    "query.search_many.wall_ms" -> med(rs, "query.search_many")(_.span.wallMs),
    "query.search_many.cpu_ms" -> med(rs, "query.search_many")(_.totals.cpuNs / 1e6),
    "query.search_many.driver_ms" -> med(rs, "query.search_many")(_.driverMs),
    "query.search_many.jobs" -> med(rs, "query.search_many")(_.totals.jobs.toDouble),
    "query.search_many.shuffle_bytes" ->
      med(rs, "query.search_many")(_.totals.shuffleWriteBytes.toDouble),
    "query.search_many.input_bytes" ->
      med(rs, "query.search_many")(_.totals.inputBytes.toDouble))
}

/** curate: MinHash-LSH near-duplicate removal over generated documents
  * with planted near-copies; the pass is sized by document count. */
final class Curate(spark: SparkSession, seed: Long, work: Path) extends Workload {
  val Docs = 16
  val Threshold = 0.5
  private var docs: Seq[Doc] = Nil
  private var df: DataFrame = _
  var corpus: CorpusStats = _

  private def load(ds: Seq[Doc], dir: Path): DataFrame = {
    val s = spark
    import s.implicits._
    // four files, so the scan splits over the four cores as a corpus of
    // many files would
    ds.map(d => (d.id, d.text)).toDF("id", "text").repartition(4)
      .write.parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  def setup(rep: Int): Unit = {
    docs = Corpus.curation(seed, Docs)
    corpus = Corpus.stats(docs)
    df = load(docs, work.resolve(s"corpus-$rep"))
  }

  def warmUp(): Unit = (1 to 3).foreach(k => op(-k))

  private def check(kept: Set[Long]): Boolean =
    docs.groupBy(_.cluster).forall {
      case (-1, ds) => ds.forall(d => kept(d.id))
      case (_, ds) => ds.count(d => kept(d.id)) == 1
    }

  private def keptIds(out: DataFrame): Set[Long] =
    out.select("id").collect().map(_.getLong(0)).toSet

  def op(i: Int): Boolean =
    check(keptIds(Dedup.dedupCorpus(df, col("id"), col("text"), Threshold)))

  /** `dedupCorpus` stage by stage: candidates → exact verification →
    * connected components → anti-join. */
  def traced(i: Int, t: Tracer): Boolean = {
    val cands = t.span("ops.candidates", i) {
      val c = Dedup.lshCandidatePairs(df, col("id"), col("text")).cache()
      (c, c.count())
    }(r => Map("pairs" -> r._2.toDouble))._1
    val pairs = t.span("ops.verify", i) {
      val v = Dedup.verifyJaccard(cands, df, col("id"), col("text"))
        .filter(col("jaccard") >= Threshold).cache()
      (v, v.count())
    }(r => Map("verified" -> r._2.toDouble))._1
    val clusters = t.span("ops.clusters", i)(
      Dedup.duplicateClusters(pairs, col("a_id"), col("b_id")))()
    val kept = t.span("ops.drop", i) {
      val drop = clusters.filter(col("id") =!= col("cluster_id")).select(col("id").as("drop_id"))
      keptIds(df.join(drop, col("id").cast("long") === col("drop_id"), "left_anti"))
    }()
    pairs.unpersist()
    cands.unpersist()
    check(kept)
  }

  def headline(latMs: Seq[Double]): Seq[(String, Double, String)] = Seq(
    ("curate_docs_per_s", Docs / (median(latMs) / 1e3), "docs/s"))

  private val stages = Seq("ops.candidates", "ops.verify", "ops.clusters", "ops.drop")

  def tracedWallMs(rs: Seq[SpanReport]): Seq[Double] =
    rs.filter(r => stages.contains(r.span.name)).groupBy(_.span.request).values
      .map(_.map(_.span.wallMs).sum).toSeq

  def layers(rs: Seq[SpanReport]): Map[String, Double] = Map(
    "ops.candidates.wall_s" -> med(rs, "ops.candidates")(_.span.wallMs / 1e3),
    "ops.candidates.cpu_s" -> med(rs, "ops.candidates")(_.totals.cpuNs / 1e9),
    "ops.candidates.pairs" -> med(rs, "ops.candidates")(_.span.counts("pairs")),
    "ops.verify.wall_s" -> med(rs, "ops.verify")(_.span.wallMs / 1e3),
    "ops.verify.cpu_s" -> med(rs, "ops.verify")(_.totals.cpuNs / 1e9),
    "ops.verify.useful_frac" -> {
      val c = named(rs, "ops.candidates").map(_.span.counts("pairs")).sum
      ratio(named(rs, "ops.verify").map(_.span.counts("verified")).sum, c)
    },
    "ops.clusters.wall_s" -> med(rs, "ops.clusters")(_.span.wallMs / 1e3),
    "ops.clusters.jobs" -> med(rs, "ops.clusters")(_.totals.jobs.toDouble),
    "ops.clusters.ckpt_peak_mb" -> med(rs, "ops.clusters")(_.totals.peakBlockBytes / 1e6),
    "ops.drop.wall_s" -> med(rs, "ops.drop")(_.span.wallMs / 1e3))
}
