package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression net over EVERY verification query: no query
  * may plan a `CartesianProduct` — the non-broadcast nested-loop join
  * whose cost is |left|×|right| with no pruning, the one operator that
  * cannot survive a 100× scale-up no matter how the data grows.
  * (Broadcast nested loops over one-row aggregates — the broadcast-scalar
  * cross joins several queries use deliberately — stay allowed: their
  * inner side is a single row by construction.) Planning only: nothing
  * executes, so the whole suite of plans checks in seconds. */
class PlanGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("no verification query plans a CartesianProduct") {
    spark.sparkContext.setLogLevel("WARN")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"CartesianProduct in: ${offenders.mkString(", ")}")
  }

  // ---- Targeted join-strategy pins for the bench flagships. These
  // assert the INTENDED physical strategy on the un-executed (AQE
  // initial) plan, so a future Catalyst/stats change that flips a
  // strategy fails a spec instead of surfacing as an unexplained bench
  // regression. Each test names the bench query it protects.

  import org.apache.spark.sql.functions._

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q176: winnowOverlapPairs broadcasts the hot-hash anti-join; " +
      "the fingerprint self-join stays an equi-join") {
    val p = plan(graft.ops.TextAnalysis.winnowOverlapPairs(
      docs, col("doc_id"), col("text"), k = 3, w = 4,
      minShared = 3, maxDf = 10))
    assert(p.contains("LeftAnti") && p.contains("Broadcast"),
      s"hot-hash stop-gram prune must be a broadcast anti-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"fingerprint self-join degenerated to a nested loop:\n$p")
  }

  test("q151: kneserNeyScore broadcasts the bigram model into the " +
      "scoring join") {
    val p = plan(graft.ops.QualitySignals.kneserNeyScore(
      docs, col("doc_id"), col("text")))
    assert(p.contains("BroadcastHashJoin"),
      s"model-scoring join must broadcast the bigram model:\n$p")
  }

  test("q149: knnGraph spreads the stream side by explicit partition " +
      "count and broadcasts the build side") {
    val p = plan(graft.ops.Ann.knnGraph(emb, col("vec_id"),
      col("embedding"), 3))
    assert(p.contains("REPARTITION_BY_NUM"),
      s"stream side must carry an AQE-coalesce-proof repartition:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"candidate side must broadcast (n-bounded), never cartesian:\n$p")
  }

  test("q187: contrastiveTriplets mines positives and negatives with " +
      "equi-joins only") {
    val edges = graft.ops.Ann.knnGraphIvf(emb, col("vec_id"),
      col("embedding"), 3, nlist = 4, iters = 1, sampleFraction = 50)
    val p = plan(graft.ops.Curation.contrastiveTriplets(
      docs, col("doc_id"), col("text"), edges, threshold = 0.5))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"triplet mining must stay equi-join only:\n$p")
  }

  test("q188: ngramNoveltyAgainst joins gram hashes only — no nested " +
      "loop, text never reaches the exchange") {
    val grams = graft.ops.QualitySignals.ngramHashTable(
      docs.filter(col("doc_id") % 2 === 0), col("text"), n = 3)
    val p = plan(graft.ops.QualitySignals.ngramNoveltyAgainst(
      docs, col("doc_id"), col("text"), grams, 3))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"novelty gate must stay an equi-join on h:\n$p")
    assert(!p.matches("(?s).*Exchange [^\\n]*\\btext\\b.*"),
      s"corpus text must never shuffle in the novelty gate:\n$p")
  }

  test("q189: piiMatches plans zero exchanges (pure row-local " +
      "projection + union)") {
    val p = plan(graft.ops.TextAnalysis.piiMatches(
      docs, col("doc_id"), col("text")))
    assert(!p.contains("Exchange"),
      s"piiMatches must stay exchange-free:\n$p")
  }

  test("q190: weightedSample plans TakeOrderedAndProject — per-partition " +
      "k-heaps, no global sort") {
    val p = plan(graft.ops.Curation.weightedSample(
      docs, col("doc_id"), col("n_chars"), 50))
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sampling must be a top-k, not a global sort:\n$p")
    assert(!p.matches("(?s).*\\bSort\\b(?![^\\n]*within).*") ||
      !p.contains("Exchange rangepartitioning"),
      s"no range-partitioned global sort in the sampler:\n$p")
  }

  test("q192: collocations tops out with TakeOrderedAndProject and " +
      "broadcasts the totals row") {
    val p = plan(graft.ops.TextAnalysis.collocations(
      docs, col("text"), minCount = 5L, topN = 40))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N collocations must be a top-k:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"totals must join as broadcast one-row frames:\n$p")
  }

  test("q193: splitLeakage prunes hot grams with a broadcast anti-join " +
      "and never nested-loops the cross-split join") {
    val p = plan(graft.ops.Curation.splitLeakage(
      docs, col("doc_id"), col("text"),
      graft.ops.Curation.splitAssign(col("doc_id")), n = 5,
      minShared = 1, maxDf = 10))
    assert(p.contains("LeftAnti") && p.contains("Broadcast"),
      s"df-prune must be a broadcast anti-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"cross-split join must stay an equi-join on the gram hash:\n$p")
  }

  /** Higher-order functions (in SQL form) of the optimized plan that
    * hold a regex `StringSplit`: a lambda-side split re-runs once per
    * array element — O(tokens²) per document. */
  private def splitsInHofs(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, StringSplit}
    df.queryExecution.optimizedPlan.collectWithSubqueries { case p => p.expressions }
      .flatten.flatMap(_.collect {
        case h: HigherOrderFunction if h.exists(_.isInstanceOf[StringSplit]) => h.sql
      })
  }

  test("tokenize once: verifyJaccard, splitLeakage, ictPairs and " +
      "spanCorruption plan no StringSplit inside a higher-order function") {
    val d = docs
    val pairs = d.select(col("doc_id").as("a_id"))
      .crossJoin(d.select(col("doc_id").as("b_id")))
    val frames = Seq(
      "verifyJaccard" -> graft.ops.Dedup.verifyJaccard(pairs, d, col("doc_id"),
        col("text")),
      "splitLeakage" -> graft.ops.Curation.splitLeakage(d, col("doc_id"),
        col("text"), graft.ops.Curation.splitAssign(col("doc_id")), n = 5),
      "ictPairs" -> graft.ops.Curation.ictPairs(d, col("doc_id"), col("text")),
      "spanCorruption" -> graft.ops.Curation.spanCorruption(d, col("doc_id"),
        col("text")))
    val offenders = frames.map { case (name, df) => name -> splitsInHofs(df) }
      .filter(_._2.nonEmpty)
    assert(offenders.isEmpty, "re-split inside a lambda:\n" +
      offenders.map { case (n, hofs) => s"$n: ${hofs.mkString("\n  ")}" }
        .mkString("\n"))
    // the guard is live: forcing CollapseProject to inline the projected
    // token column back into the unit lambda must trip it
    val key = "spark.sql.optimizer.collapseProjectAlwaysInline"
    spark.conf.set(key, "true")
    try assert(splitsInHofs(graft.ops.Curation.ictPairs(d, col("doc_id"),
      col("text"))).nonEmpty, "inlined token column went undetected")
    finally spark.conf.unset(key)
  }

  test("rendezvousShard compiles: no interpreted HOF (transform/array_max) " +
      "in the plan, whole-stage codegen covers the projection") {
    val p = plan(docs.select(graft.ops.Curation.rendezvousShard(
      col("doc_id"), 8).as("shard")))
    assert(!p.contains("array_max") && !p.contains("transform("),
      s"rendezvous argmax must be the unrolled struct-max chain:\n$p")
    // the *(n) stage prefix IS the whole-stage-codegen marker in the
    // simple-string plan (the literal name only prints in formatted mode)
    assert(p.contains("*(1) Project [greatest("),
      s"rendezvous projection must stay inside codegen:\n$p")
  }

  test("q203: softDedupWeights joins the weight table broadcast — " +
      "the corpus side never shuffles for the join") {
    val cc = spark.range(10).selectExpr("id", "id % 3 AS cluster_id")
    val p = plan(graft.ops.Curation.softDedupWeights(docs, col("doc_id"), cc))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"weight attach must be a broadcast hash join:\n$p")
  }

  test("q204: latestSnapshot is ONE partial-agg exchange — no window, " +
      "no join, no second shuffle") {
    val p = plan(graft.ops.Dedup.latestSnapshot(
      spark.read.parquet(s"$sf/events.parquet"),
      Seq(col("user_id"), col("event_type")), col("ts"), col("event_id")))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"snapshot must be an aggregation, not a window/join:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"exactly one shuffle (the key agg) expected:\n$p")
    assert(p.contains("partial_max") || p.contains("partial_"),
      s"map-side combine must be present:\n$p")
  }

  test("q206: semanticContamination broadcasts the bench side; the corpus " +
      "never sort-merge-joins") {
    val p = plan(graft.ops.QualitySignals.semanticContamination(
      emb.filter(col("vec_id") >= 25), col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 25), col("vec_id"), col("embedding"), 0.4))
    assert(p.contains("Broadcast") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"),
      s"bench frame must broadcast:\n$p")
  }

  test("q208/q209: fimTransform and spanCorruption plan zero exchanges " +
      "(pure row-local transforms)") {
    val pf = plan(graft.ops.Curation.fimTransform(
      docs, col("doc_id"), col("text"), rate = 0.5))
    assert(!pf.contains("Exchange"),
      s"fimTransform must be exchange-free:\n$pf")
    val ps = plan(graft.ops.Curation.spanCorruption(
      docs, col("doc_id"), col("text"), stride = 8, spanLen = 2))
    assert(!ps.contains("Exchange"),
      s"spanCorruption must be exchange-free:\n$ps")
  }

  test("q210: domainFilter rejects via a broadcast anti-join") {
    val roll = graft.ops.Curation.domainRollup(docs, col("source"),
      col("n_chars"), minMean = 300.0, lowFloor = 400.0, maxLowShare = 0.75)
    val p = plan(graft.ops.Curation.domainFilter(docs, col("source"), roll))
    assert(p.contains("LeftAnti") && p.contains("Broadcast"),
      s"domain reject list must broadcast anti-join:\n$p")
  }

  test("q213: conversationAssemble is one conversation-keyed aggregation — " +
      "no window, no join") {
    val p = plan(graft.ops.TextAnalysis.conversationAssemble(
      spark.read.parquet(s"$sf/events.parquet"),
      col("user_id"), lit("user"), col("event_type"), col("ts"),
      col("event_id")))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"assembly must be an aggregation:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"exactly one shuffle (the conv-key agg) expected:\n$p")
  }

  test("q216: temperatureSample joins the rate table broadcast — " +
      "the corpus row filter never sort-merge-joins") {
    val p = plan(graft.ops.Curation.temperatureSample(
      docs, col("doc_id"), col("lang"), temperature = 2.0))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"rate attach must broadcast:\n$p")
  }

  test("q223: logisticPredict plans zero exchanges (row-local sigmoid " +
      "projection under a literal model)") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    val model = (0L to 8L).map(j => (j, 0.1)).toDF("j", "w")
    val p = plan(graft.ops.Classify.logisticPredict(
      docs, col("doc_id"), col("text"), model))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"scoring must be a pure projection:\n$p")
  }

  test("q229: asofJoin is union-and-scan — a keyed window, NO join " +
      "operator anywhere") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val l = Seq((1L, 7L, ts("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "t")
    val r = Seq((2L, 7L, ts("2024-01-01 09:00:00"), 1.0))
      .toDF("rid", "user_id", "t", "v")
    val p = plan(graft.ops.Temporal.asofJoin(l, r, Seq("user_id"), "t",
      payload = Seq("rid", "v"), rightTiebreak = col("rid")))
    assert(p.contains("Window") && !p.contains("Join"),
      s"as-of must be the union-and-scan window, never a theta-join:\n$p")
  }

  test("q230: rangeJoin is a bucket EQUI-join with a residual filter — " +
      "never a nested loop") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val pts = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("pid", "pt")
    val ivs = Seq((2L, ts("2024-01-01 09:00:00"), ts("2024-01-01 11:00:00")))
      .toDF("iid", "s", "e")
    val p = plan(graft.ops.Temporal.rangeJoin(pts, col("pid"), col("pt"),
      ivs, col("iid"), col("s"), col("e"), 900000000L))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"bucket join must be an equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$p")
  }

  test("q231: HNSW layer joins — exact build broadcasts, IVF build " +
      "equi-joins on the cell; never a CartesianProduct") {
    val exact = plan(graft.ops.Hnsw.buildExact(
      emb.filter(col("vec_id") < 50), col("vec_id"), col("embedding"),
      m = 4, maxLevel = 1))
    assert(exact.contains("Broadcast"),
      s"exact layer scoring must broadcast the pair side:\n$exact")
    assert(!exact.contains("CartesianProduct"),
      s"exact build degenerated to a cartesian:\n$exact")
    val pruned = plan(graft.ops.Hnsw.buildIvf(
      emb.filter(col("vec_id") < 50), col("vec_id"), col("embedding"),
      m = 4, maxLevel = 0, nlist = 4))
    assert(pruned.contains("HashJoin") || pruned.contains("SortMergeJoin"),
      s"IVF-pruned candidates must come from a cell equi-join:\n$pruned")
    assert(!pruned.contains("CartesianProduct"),
      s"pruned build degenerated to a cartesian:\n$pruned")
  }

  test("q233: distillationPairs ranks inside qid-partitioned windows — " +
      "bounded per query, never a global sort") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    val cands = Seq((1L, "q", 10L, "d1"), (1L, "q", 11L, "d2"))
      .toDF("qid", "qt", "did", "dt")
    val p = plan(graft.ops.Rerank.distillationPairs(cands, col("qid"),
      col("qt"), col("did"), col("dt"), graft.ops.HashCrossScorer(),
      posK = 1, negK = 1))
    assert(p.contains("windowspecdefinition(qid"),
      s"teacher-score ranking must partition by qid:\n$p")
    // window sorts are partition-local (`Sort [...], false`); a GLOBAL
    // sort (`Sort [...], true`) would be the 100 TB scale-killer
    assert(!p.contains("windowspecdefinition()") &&
      !"Sort \\[[^\\]]*\\], true".r.findFirstIn(p).isDefined,
      s"no unpartitioned window / global sort:\n$p")
  }

  test("q237: rollingStats is ONE key shuffle — a single exchange on " +
      "the key, every frame a keyed window") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq((1L, 7L, ts("2024-01-01 10:00:00"), 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    val p = plan(graft.ops.Temporal.rollingStats(ev, col("event_id"),
      Seq("user_id"), col("ts"), col("value"), nRows = 3))
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly one key exchange, got $exchanges:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"the one exchange must partition on the key:\n$p")
  }

  test("q241/q243: funnel is one key-shuffled aggregation — no driver " +
      "loop, no self-join chain on the event log") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq((1L, "a", ts("2024-01-01 10:00:00")))
      .toDF("u", "tp", "t")
    val steps = plan(graft.ops.Temporal.funnelSteps(ev, col("u"),
      col("tp"), col("t"), Seq("a", "b")))
    assert(!steps.contains("Join") && !steps.contains("Window"),
      s"funnelSteps is one aggregation + row-local scan:\n$steps")
    val counts = plan(graft.ops.Temporal.funnel(ev, col("u"), col("tp"),
      col("t"), Seq("a", "b")))
    assert(counts.contains("BroadcastHashJoin") ||
      counts.contains("BroadcastNestedLoop"),
      s"the step-list completion join must broadcast:\n$counts")
    assert(!counts.contains("SortMergeJoin"),
      s"no shuffled join against the 2-row step list:\n$counts")
  }

  test("spread guard: engages on small scan-rooted inputs, exact no-op " +
      "past an exchange (the q100-class flip becomes a spec failure)") {
    val scanRooted = docs.select(col("doc_id"), col("text"))
    val spread = graft.ops.Dedup.spreadSmallScan(scanRooted, col("doc_id"))
    // sf0.001 parquet is one row group → 1 input partition < cores/2 →
    // the guard must insert the spreading exchange
    assert(plan(spread).contains("Exchange hashpartitioning(doc_id"),
      s"guard failed to engage on a small scan:\n${plan(spread)}")
    // derived frames (downstream of any exchange) return IDENTICALLY —
    // the guard must not finalize AQE or touch the plan
    val derived = docs.groupBy("doc_id").count()
    val out = graft.ops.Dedup.spreadSmallScan(derived, col("doc_id"))
    assert(out eq derived, "guard must be an exact no-op past exchanges")
  }

  test("q152/q153: the suffix loop switch records its decision and " +
      "defaults to the dense loop at local scales") {
    graft.ops.Suffix.suffixRanks(
      docs.filter(col("doc_id") < 20), col("doc_id"), col("text"))
      .queryExecution.toRdd.count()
    assert(graft.ops.Suffix.lastLoop == "dense",
      s"local-scale corpora must take the dense loop, " +
        s"got '${graft.ops.Suffix.lastLoop}'")
  }

  test("q247: asofJoinNearest is the union-and-scan with TWO windows " +
      "over one shuffle — still no join operator") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val l = Seq((1L, 7L, ts("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "t")
    val r = Seq((2L, 7L, ts("2024-01-01 09:00:00"), 1.0))
      .toDF("rid", "user_id", "t", "v")
    val p = plan(graft.ops.Temporal.asofJoinNearest(l, r, Seq("user_id"),
      "t", payload = Seq("rid", "v"), rightTiebreak = col("rid")))
    assert(p.contains("Window") && !p.contains("Join"),
      s"nearest as-of must stay join-free:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"both scans must share ONE key shuffle, got $exchanges:\n$p")
  }

  test("q245: intervalOverlapJoin is a bucket EQUI-join with owner " +
      "dedup — never a nested loop, no distinct pass") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val a = Seq((1L, ts("2024-01-01 09:00:00"), ts("2024-01-01 11:00:00")))
      .toDF("aid", "s", "e")
    val b = Seq((2L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")))
      .toDF("bid", "s", "e")
    val p = plan(graft.ops.Temporal.intervalOverlapJoin(
      a, col("aid"), col("s"), col("e"),
      b, col("bid"), col("s"), col("e"), 900000000L))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"overlap join must be a bucket equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct") && !p.contains("HashAggregate"),
      s"no nested loop and no dedup aggregate (owner bucket claims " +
        s"each pair once):\n$p")
  }

  test("q234: packAssign joined stats shuffle only on the bin key — " +
      "semantic packing's reports stay partial-agg'd") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, 0, 4L), (2L, 1, 4L)).toDF("id", "cell", "t")
    val p = plan(graft.ops.Curation.packAssign(df, col("id"),
      Seq(col("cell"), col("id")), col("t"), 8))
    assert(!p.contains("Join") && !p.contains("Window"),
      s"pack assignment is the two-pass prefix sum, no join/window:\n$p")
  }

  test("q262: ohlcBars is ONE hash aggregation — no window, no sort, " +
      "min_by/max_by resolve open/close inside the agg") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq((1L, 10L, ts("2024-01-01 00:10:00"), 5.0))
      .toDF("u", "id", "t", "v")
    val p = plan(graft.ops.Analytics.ohlcBars(ev, col("u"), col("t"),
      col("v"), col("id"), 3600L * 1000000L))
    assert(!p.contains("Window") && !p.contains("Join"),
      s"OHLC must be a plain grouped agg:\n$p")
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 1, s"one grouping exchange expected, got " +
      s"$exchanges:\n$p")
  }

  test("q263/q269: resampleLocf and sessionize pay ONE key exchange — " +
      "windows and the rollup share the (key) partitioning") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq((1L, ts("2024-01-01 10:00:00"), 1.0)).toDF("u", "t", "v")
    val pr = plan(graft.ops.Analytics.resampleLocf(ev, col("u"), col("t"),
      col("v"), 3600L * 1000000L))
    assert("Exchange ".r.findAllIn(pr).length == 1 &&
      pr.contains("Generate"),
      s"resample = one keyed window then a row-local explode:\n$pr")
    val ps = plan(graft.ops.Analytics.sessionize(ev, col("u"), col("t"),
      col("v"), 3600L * 1000000L))
    assert("Exchange ".r.findAllIn(ps).length == 1,
      s"sessionize's windows + rollup must reuse one key exchange:\n$ps")
  }

  test("q259: activeUsers distincts BEFORE the window fan-out — exactly " +
      "one Generate, fed by an aggregate") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // two rows: a 1-row local plan would trigger Catalyst's
    // one-row-aggregate elimination and erase the distinct under test
    val ev = Seq((1L, ts("2024-01-01 10:00:00")),
      (2L, ts("2024-01-02 10:00:00"))).toDF("u", "t")
    val p = plan(graft.ops.Analytics.activeUsers(ev, col("u"), col("t"),
      Seq(1, 7)))
    assert("Generate ".r.findAllIn(p).length == 1,
      s"exactly one fan-out explode:\n$p")
    assert(!p.contains("Window"), s"no window in the exact path:\n$p")
    // the explode's input is the distinct-pairs aggregate, so the raw
    // log never fans out: Generate must sit above an Aggregate in the
    // tree (printed later = deeper)
    val gi = p.indexOf("Generate")
    assert(p.indexOf("HashAggregate", gi) > gi,
      s"fan-out must read the distinct (user, day) aggregate:\n$p")
  }

  test("q266: triangleStats joins are all equi-joins; the closing-edge " +
      "check is a left-semi") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    val e = Seq((1L, 2L)).toDF("a", "b")
    val p = plan(graft.ops.Graph.triangleStats(e, col("a"), col("b")))
    assert(p.contains("LeftSemi"), s"closing edge must be a semi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"degree orientation keeps every join an equi-join:\n$p")
  }

  test("q266: broadcastEdges pins the closing-edge semi-join to a " +
      "BROADCAST hash join — the wedge frame never shuffles") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val p = plan(graft.ops.Graph.triangleStats(e, col("a"), col("b"),
      broadcastEdges = true))
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(p).isDefined,
      s"closing-edge lookup must be a broadcast left-semi:\n$p")
  }

  test("q274: scd2 plans no join — change detection and versioning are " +
      "windows over ONE key partitioning") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val log = Seq((1L, ts("2024-01-01 00:00:00"), 1L, "A"),
      (1L, ts("2024-01-02 00:00:00"), 2L, "B")).toDF("k", "t", "id", "st")
    val p = plan(graft.ops.Warehouse.scd2(log, col("k"), col("t"),
      col("id"), Seq("state" -> col("st"))))
    assert(!p.contains("Join"), s"scd2 must not join:\n$p")
    assert(p.contains("Window"), s"scd2 runs on key windows:\n$p")
  }

  test("q276: the linkage pair fan-out reads a PINNED spread exchange " +
      "(AQE must not coalesce the kernel onto the scan task)") {
    val q = SparkEntry.queries("q276_linkage_score")(spark, sf)
    val p = plan(q)
    assert(p.contains("Exchange hashpartitioning"),
      s"spreadSmallScan's pinned repartition must survive:\n$p")
    assert(!p.contains("CartesianProduct"), s"blocked equi-join only:\n$p")
  }

  test("q283: gini's global index ranks in parallel per range " +
      "partition — no single-task sort of the value column") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    val v = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x")
    val p = plan(graft.ops.Analytics.giniCoefficient(v, col("x"),
      col("id")))
    // the range exchange itself sits BEHIND withGlobalIndex's eager
    // checkpoint since the round-13 layout-materialization fix (the
    // final plan reads Scan ExistingRDD), so pin what remains visible:
    // the rank window partitions by the range-partition id — parallel
    // per-partition ranks, never one unpartitioned window/sort over
    // the whole table
    assert(p.contains("windowspecdefinition(_pid"),
      s"the rank window must partition by _pid (parallel ranks):\n$p")
    assert(!p.contains("windowspecdefinition(x"),
      s"no unpartitioned window over the value column:\n$p")
  }

  test("q268: winsorize joins the bounds frame broadcast — the data " +
      "never shuffles") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "g", 1.0)).toDF("id", "grp", "v")
    val p = plan(graft.ops.Profile.winsorize(df, col("id"), Seq("grp"),
      col("v"), 0.1, 0.9))
    assert(p.contains("BroadcastHashJoin"),
      s"bounds must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the fact table must not shuffle for the bounds join:\n$p")
  }

  test("q313: isotonic's bin->block lookup is the ONLY nested loop, " +
      "and it builds the bounded block side") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, 0L), (1L, 1L), (2L, 1L)).toDF("bin", "y")
    val p = plan(graft.ops.Classify.isotonicCalibrate(df, col("bin"),
      col("y")))
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"the BETWEEN lookup must build the broadcast block frame:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q318: quantileNormalize resolves interpolation positions with " +
      "equi-joins — no range join, no corpus broadcast") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "g", 1.0), (2L, "g", 2.0)).toDF("id", "grp", "v")
    val p = plan(graft.ops.Profile.quantileNormalize(df, col("id"),
      col("grp"), col("v")))
    // the one nested loop is the 1-row total broadcast (allowed); both
    // interpolation-position lookups must be hash equi-joins
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"position lookups must be equi-joins:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the scalar-total cross may nested-loop:\n$p")
  }

  test("q320: the SGNS negative lookup is a segment EQUI-join, never " +
      "a per-row vocab scan") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(Tuple1("a b a")).toDF("text")
    val p = plan(graft.ops.TextAnalysis.sgnsPairs(df, col("text"),
      window = 1, minCount = 1, negatives = 1))
    // the 1-row vocab-total broadcasts are allowed nested loops; the
    // span resolution itself must be the seg hash join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"span lookup must ride the seg equi-join:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"only the scalar-total crosses may nested-loop:\n$p")
  }

  test("q326: dbscan candidate pairs come from the (cx, cy) grid " +
      "equi-join — never an all-pairs product") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, 0.0, 0.0), (2L, 0.01, 0.0), (3L, 0.02, 0.0),
      (4L, 5.0, 5.0)).toDF("id", "x", "y")
    val p = plan(graft.ops.Ann.dbscan(df, col("id"), col("x"), col("y"),
      eps = 0.1, minPts = 2))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"neighbor candidates must equi-join on the grid cell:\n$p")
  }

  test("q317: targetEncode's encoding lookup broadcasts the bounded " +
      "(cat, fold) frame — rows never shuffle for it") {
    import org.apache.spark.sql.SparkSession
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "A", 1L, 0L)).toDF("id", "c", "y", "f")
    val p = plan(graft.ops.Curation.targetEncode(df, col("id"), col("c"),
      col("y"), col("f"), smoothing = 2.0))
    assert(p.contains("BroadcastHashJoin"),
      s"the (cat, fold) lookup must broadcast:\n$p")
  }
}
