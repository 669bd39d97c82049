package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus-curation operators for training-data pipelines (north-star
 * extensions): PII masking, deterministic dataset splits, vocabulary
 * statistics, and sequence packing. All are codegen'd built-ins — one pass
 * over the corpus, shuffle only where an aggregation demands it.
 */
object Curation {

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe = "https?://[^\\s]+"
  private val longNumRe = "\\b\\d{6,}\\b"

  /** Mask emails, URLs and long digit runs — the standard pre-training
    * scrub. Pure `regexp_replace` chain: stays in whole-stage codegen.
    * The richer classed family (phone/IP/SSN shapes, per-class audit
    * COUNTS, one shared pattern table for engine parity) is
    * [[TextAnalysis.piiSignals]]/[[TextAnalysis.redactPii]]; this stays
    * the one-expression quick scrub with URL + digit-run coverage. */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        urlRe, "<URL>"),
      longNumRe, "<NUM>")

  /**
   * C4-style heuristic line cleaning (Raffel et al. 2020, §2.2 — the
   * rules behind the C4 corpus): keep only lines that end in a terminal
   * punctuation mark (`. ! ? "`), contain at least `minLineWords` words,
   * and mention none of `badWords` (case-insensitive; C4 uses
   * "javascript"); flag whole documents containing any of
   * `dropDocMarkers` (case-insensitive literals; C4 uses "lorem ipsum"
   * and `{`) as `doc_ok = false` for the caller to drop. Returns
   * `(id, n_lines, n_kept, doc_ok, text)` with `text` rebuilt from the
   * surviving lines in order.
   *
   * Scale shape: every rule is a row-local expression over the doc's own
   * line array — one corpus pass, zero exchanges, nothing shuffles. The
   * per-line conditions are regex/size built-ins; lines per document are
   * few, so the line-filter HOF stays cheap (unlike per-token HOFs, which
   * the [[graft.expr.SpanCut]] family compiles instead).
   */
  def c4Clean(df: DataFrame, idCol: Column, textCol: Column,
      minLineWords: Int = 3,
      badWords: Seq[String] = Seq("javascript"),
      dropDocMarkers: Seq[String] = Seq("lorem ipsum", "{")): DataFrame = {
    require(badWords.nonEmpty && dropDocMarkers.nonEmpty,
      "badWords and dropDocMarkers must be non-empty")
    def quoted(ws: Seq[String]) =
      ws.map(java.util.regex.Pattern.quote).mkString("(?i)(", "|", ")")
    val lines = split(textCol, "\n")
    val lineOk = (l: Column) =>
      l.rlike("[.!?\"]\\s*$") &&
        size(array_remove(split(trim(l), "\\s+"), "")) >= minLineWords &&
        !l.rlike(quoted(badWords))
    val kept = filter(lines, lineOk)
    df.select(idCol.as("id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      (!textCol.rlike(quoted(dropDocMarkers))).as("doc_ok"),
      array_join(kept, "\n").as("text"))
  }

  /**
   * Deterministic train/val/test assignment from a content-stable key:
   * bucket = first 15 hex chars of md5(key) mod 100 (md5 so any engine —
   * including the DuckDB oracle — reproduces the exact assignment; xxhash64
   * would be Spark-only). Stable across runs, clusters, and engines; doc
   * membership never depends on partitioning.
   */
  /** Corpus-version diff between two batches keyed by id: per-id status
    * `added` (new side only) / `removed` (old side only) / `changed`
    * (both, content hash differs) / `unchanged` — the audit artifact a
    * dataset release publishes next to its manifest (what moved between
    * v1 and v2, without shipping either corpus). Scale shape: each side
    * reduces to `(id, sha2(text))` BEFORE the join, so only 40-byte
    * digests shuffle — the texts never travel — and the single full
    * outer join is the whole cost. */
  def corpusDiff(oldDf: DataFrame, oldId: Column, oldText: Column,
      newDf: DataFrame, newId: Column, newText: Column): DataFrame = {
    val o = oldDf.select(oldId.cast("long").as("o_id"),
      sha2(oldText.cast("string"), 256).as("o_h"))
    val n = newDf.select(newId.cast("long").as("n_id"),
      sha2(newText.cast("string"), 256).as("n_h"))
    o.join(n, o("o_id") === n("n_id"), "full_outer")
      .select(coalesce(col("o_id"), col("n_id")).as("id"),
        when(col("o_id").isNull, lit("added"))
          .when(col("n_id").isNull, lit("removed"))
          // null-safe: two NULL texts hash to NULL on both sides and ARE
          // the same content — plain === would yield NULL here and fall
          // through to "changed"
          .when(col("o_h") <=> col("n_h"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** k-fold cross-validation assignment — the evaluation companion to
    * [[splitAssign]]: a deterministic md5 bucket in `[0, k)` per key,
    * so fold membership is content-addressed (stable across runs,
    * engines and partitionings; no RNG state to thread). Use the same
    * cluster-representative keying as [[leakageSafeSplit]] upstream
    * when near-duplicates must fold together. */
  def crossFold(key: Column, k: Int): Column = {
    require(k >= 2, "crossFold: k >= 2")
    pmod(graft.expr.PortableHash.hex15Col(key), lit(k.toLong))
  }

  def splitAssign(key: Column, trainPct: Int = 90, valPct: Int = 5): Column = {
    val bucket = graft.expr.PortableHash.hex15Col(key) % 100
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** LEAKAGE-SAFE train/val/test assignment: near-duplicate documents
    * must all land in the SAME split, or the held-out set silently
    * contains paraphrases of training rows and every eval number is
    * contaminated — the split-time counterpart of decontamination.
    * Documents are clustered by verified MinHash near-duplication
    * ([[graft.ops.Dedup.minHashDuplicates]] →
    * [[graft.ops.Dedup.duplicateClusters]]); the md5 split bucket is
    * then keyed by the CLUSTER representative (own id when
    * unclustered), so the whole cluster moves together. Returns
    * `(id, cluster_id, split)`.
    *
    * Scale shape: the cluster table is duplicate-bounded (tiny) and
    * joins the corpus id-to-id; the split rule stays the row-local
    * [[splitAssign]] fold — content-keyed, partitioning-independent. */
  def leakageSafeSplit(df: DataFrame, idCol: Column, textCol: Column,
      threshold: Double, shingleSize: Int = 3, trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    val pairs = graft.ops.Dedup.minHashDuplicates(df, idCol, textCol,
      threshold, shingleSize = shingleSize)
    val clusters = graft.ops.Dedup.duplicateClusters(pairs,
      col("a_id"), col("b_id"))
    df.select(idCol.cast("long").as("id"))
      .join(clusters, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      .withColumn("split", splitAssign(col("cluster_id"), trainPct, valPct))
  }

  /** Curriculum dataloader order: easy-to-hard by `nBins` exact
    * quantile bins of `scoreCol` ([[quantileBins]] — bin 1 = lowest
    * score first), deterministically shuffled WITHIN each bin by
    * `md5(epoch:id)` (the [[epochShuffle]] rule) — the "sorted by
    * difficulty, shuffled inside each difficulty band, different every
    * epoch, identical on every re-run" order curriculum training wants.
    * Returns `(id, bin, ord)` with `ord` the 1-based global position.
    *
    * Scale shape: one exact-percentile aggregate broadcast as cut
    * points, then the same two-pass prefix-sum global index as
    * [[epochShuffle]] — no global single-task sort anywhere. */
  def curriculumOrder(df: DataFrame, idCol: Column, scoreCol: Column,
      nBins: Int = 10, epoch: Int = 0): DataFrame =
    Scale.withGlobalIndex(
        quantileBins(df, idCol.cast("long"), scoreCol, nBins)
          .select(col("id"), col("bin"),
            md5(concat_ws(":", lit(epoch), col("id"))).as("k")),
        Seq(col("bin"), col("k"), col("id")), "ord")
      .select(col("id"), col("bin").cast("bigint").as("bin"), col("ord"))

  /** Contrastive training TRIPLETS from dedup evidence: every document
    * in a near-dup cluster becomes an anchor whose POSITIVE is its
    * smallest other cluster member (a verified paraphrase) and whose
    * NEGATIVE is its highest-ranked kNN neighbour OUTSIDE the cluster —
    * the classic hard negative: close in embedding space, provably not
    * a duplicate. `knnEdges` is a pre-built `(id, rnk, nbr, sim)` frame
    * ([[graft.ops.Ann.knnGraph]] for the bounded exact baseline,
    * [[graft.ops.Ann.knnGraphIvf]] at scale — the q169 stance: the op
    * composes with either). Anchors whose every neighbour is
    * in-cluster produce no triplet (raise k upstream). Returns
    * `(anchor_id, pos_id, neg_id, neg_sim)`.
    *
    * Scale shape: the cluster table is duplicate-bounded; positives are
    * one self-join + partial-agg min over it; negatives one equi-join
    * of the kNN frame with two (tiny) cluster lookups and a
    * min(struct) per anchor. Nothing corpus-sized shuffles beyond what
    * the edge frame already paid. */
  def contrastiveTriplets(docs: DataFrame, idCol: Column, textCol: Column,
      knnEdges: DataFrame, threshold: Double,
      shingleSize: Int = 3): DataFrame = {
    val pairs = graft.ops.Dedup.minHashDuplicates(docs, idCol, textCol,
      threshold, shingleSize = shingleSize)
    val clusters = graft.ops.Dedup.duplicateClusters(pairs,
      col("a_id"), col("b_id"))
    val pos = clusters.as("x")
      .join(clusters.as("y"),
        col("x.cluster_id") === col("y.cluster_id") &&
          col("x.id") =!= col("y.id"))
      .groupBy(col("x.id").as("id"))
      .agg(min(col("y.id")).as("pos_id"))
    val anchorC = clusters.withColumnRenamed("cluster_id", "ac")
    val nbrC = clusters.select(col("id").as("nbr"), col("cluster_id").as("nc"))
    val neg = knnEdges.join(anchorC, "id")
      .join(nbrC, Seq("nbr"), "left")
      .filter(col("nc").isNull || col("nc") =!= col("ac"))
      .groupBy("id")
      .agg(min(struct(col("rnk"), col("nbr"), col("sim"))).as("w"))
      .select(col("id"), col("w.nbr").as("neg_id"), col("w.sim").as("neg_sim"))
    pos.join(neg, "id")
      .select(col("id").as("anchor_id"), col("pos_id"), col("neg_id"),
        col("neg_sim"))
  }

  /** Rendezvous (highest-random-weight) shard assignment: shard =
    * argmax over `s ∈ [0, nShards)` of `md5(s ++ ":" ++ key)` — when a
    * shard is ADDED only ~1/(n+1) of keys move (each to the new shard),
    * where `hash(key) mod n` reshuffles nearly everything: the property
    * that makes growing a sharded corpus store an incremental copy
    * instead of a full rewrite. Row-local, content-keyed,
    * engine-portable (ties between 60-bit weights are beyond-astronomic;
    * both engines break them toward the larger shard id). Since `nShards`
    * is a plan-time constant, the argmax unrolls into a codegen'd
    * struct-max chain ([[graft.expr.CurationExprs.rendezvousShard]] —
    * also the SQL `rendezvous_shard` builder) instead of an interpreted
    * `transform`/`array_max` HOF pair. */
  def rendezvousShard(key: Column, nShards: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.expr.CurationExprs.rendezvousShard(
        org.apache.spark.sql.graft.Bridge.expression(key.cast("string")),
        nShards))

  /** Robust outlier gate on a per-document metric via the MODIFIED
    * z-score (Iglewicz–Hoaglin): `z = 0.6745·(x − median) / MAD`,
    * flagged when `|z| > cutoff` (3.5 is the standard release-gate
    * setting) — median/MAD ignore the very tail mass a mean/stddev gate
    * would be dragged by, which is the point of an outlier gate.
    * Returns `(id, x, z, outlier)`, z at 4dp; MAD = 0 (over half the
    * mass exactly at the median) degenerates z to 0 — no outliers, by
    * construction, rather than a divide-by-zero.
    *
    * Scale shape: two exact-`percentile` aggregates (each one partial-agg
    * pass) broadcast back as scalar rows; the flag is a stateless
    * row-local projection ([[quantileBins]]' shape — never a global
    * sort). */
  def madOutliers(df: DataFrame, idCol: Column, metricCol: Column,
      cutoff: Double = 3.5): DataFrame = {
    val x = df.select(idCol.cast("long").as("id"),
      metricCol.cast("double").as("x"))
    val med = x.agg(percentile(col("x"), lit(0.5)).as("m"))
    val withM = x.crossJoin(broadcast(med))
    val mad = withM.agg(percentile(abs(col("x") - col("m")), lit(0.5)).as("mad"))
    withM.crossJoin(broadcast(mad))
      .select(col("id"), col("x"),
        when(col("mad") === 0, lit(0.0))
          .otherwise(round(lit(0.6745) * (col("x") - col("m")) / col("mad"), 4))
          .as("z"))
      .withColumn("outlier", abs(col("z")) > cutoff)
  }

  /** Deterministic per-EPOCH global training order — the "shuffle the
    * corpus differently every epoch, identically on every re-run" a
    * training dataloader needs: rows ordered by `md5(epoch ++ ":" ++
    * id)` (ties by id), with a 1-based global position. Content-keyed,
    * so the permutation is independent of partitioning, cluster size,
    * and engine ([[splitAssign]]'s md5 stance). Returns `(id, ord)`.
    *
    * Scale shape: the order is realized by [[Scale.withGlobalIndex]] —
    * range-partition on the hash + per-partition ranks + bounded offset
    * window — never a single-task global sort; shuffles carry (id,
    * 32-char key) only. Writing shards in `ord` ranges then streams the
    * epoch in shuffled order with sequential reads. */
  def epochShuffle(df: DataFrame, idCol: Column, epoch: Int): DataFrame =
    Scale.withGlobalIndex(
        df.select(idCol.cast("long").as("id"),
          md5(concat_ws(":", lit(epoch), idCol.cast("long"))).as("k")),
        Seq(col("k"), col("id")), "ord")
      .select(col("id"), col("ord"))

  /**
   * Quantile binning WITHOUT a window: assign each row its `nBins`-tile of
   * `scoreCol` (bin 1 = lowest). The cut points come from ONE exact
   * `percentile` aggregate — (nBins − 1) doubles, rounded to 4dp so the
   * comparisons are engine-reproducible — broadcast back as a scalar row;
   * the assignment is then a row-local fold `1 + Σ(s > cut)`. This is the
   * curriculum/quality-binning shape at corpus scale: an `ntile` window
   * would globally sort 100 TB on one axis, while this is an aggregate
   * plus a stateless projection. (Swap the percentile aggregate for
   * `approx_percentile` upstream when the exact per-group sort over the
   * score column matters; the binning pass is unchanged.) Returns
   * `(id, s, bin)`.
   */
  def quantileBins(df: DataFrame, idCol: Column, scoreCol: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "need nBins >= 2")
    val scored = df.select(idCol.as("id"), scoreCol.cast("double").as("s"))
    val probs = array((1 until nBins).map(i => lit(i.toDouble / nBins)): _*)
    val cuts = scored.agg(
      transform(percentile(col("s"), probs), c => round(c, 4)).as("cuts"))
    scored.crossJoin(broadcast(cuts))
      .select(col("id"), col("s"),
        aggregate(col("cuts"), lit(1L),
          (acc, c) => acc + when(col("s") > c, 1L).otherwise(0L)).as("bin"))
  }

  /**
   * EXACT-size deterministic sample: the `k` rows whose md5 rank of
   * `keyCol` is smallest — content-keyed like every sampler here
   * (reproducible across engines, runs, partitionings) but with an exact
   * row count, which the rate-based [[stratifiedSample]] only hits in
   * expectation. The order statistic of a uniform hash IS a uniform
   * k-subset, so this is simple random sampling without replacement in
   * one pass. Returns the input columns of the selected rows.
   *
   * Scale shape: TakeOrderedAndProject — per-partition k-heaps + driver
   * merge, no global sort, no shuffle; the same plan as every top-k in
   * the engine. */
  def exactSample(df: DataFrame, keyCol: Column, k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    df.orderBy(graft.expr.PortableHash.hex15Col(keyCol).asc, keyCol.asc)
      .limit(k)
  }

  /**
   * Vocabulary coverage curve — the tokenizer-design diagnostic: for each
   * candidate vocabulary size `V`, the fraction of all token OCCURRENCES
   * covered by the `V` most frequent types (ties on count broken by the
   * token, so the curve is engine-exact). A 10k-vocab covering 97% of
   * occurrences means a 3% OOV/byte-fallback rate — the number that picks
   * a BPE merge budget. Returns `(vocab_size, n_types, covered, total,
   * coverage)` with coverage rounded to 4dp.
   *
   * Scale shape: the corpus reduces to `(token, count)` under partial
   * aggregation (the only corpus-sized exchange carries token+long);
   * ranking and the running sum are a window over the VOCABULARY-bounded
   * count table — the one place a window is right, because the input is
   * already vocabulary-sized, not corpus-sized. */
  def vocabCoverage(df: DataFrame, textCol: Column,
      sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty, "need at least one vocab size")
    val counts = df
      .select(explode(array_remove(split(trim(textCol), "\\s+"), "")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("tok"))
    val ranked = counts
      .select(col("c"), row_number().over(w).as("rnk"),
        sum(col("c")).over(w).as("cum"))
    val sorted = sizes.sorted
    val aggs = sorted.flatMap(s => Seq(
      max(when(col("rnk") <= s, col("rnk"))).as(s"t_$s"),
      max(when(col("rnk") <= s, col("cum"))).as(s"c_$s")))
    ranked.agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(counts.agg(sum("c").as("total"))))
      .select(explode(array(sorted.map(s => struct(
          lit(s.toLong).as("vocab_size"),
          coalesce(col(s"t_$s"), lit(0)).cast("bigint").as("n_types"),
          coalesce(col(s"c_$s"), lit(0L)).as("covered"))): _*)).as("r"),
        col("total"))
      .select(col("r.vocab_size").as("vocab_size"), col("r.n_types").as("n_types"),
        col("r.covered").as("covered"), col("total"),
        round(col("r.covered").cast("double") / col("total"), 4).as("coverage"))
  }

  /**
   * Deterministic per-stratum sampling (domain-mixing weights): keep a row
   * when its md5 bucket falls under the stratum's percentage. Content-keyed
   * like [[splitAssign]] — membership is reproducible across engines, runs
   * and partitionings, and changing one stratum's rate never reshuffles
   * another's sample (independent hash space per key). Unlisted strata
   * drop. Plain filter: no shuffle, no sampling state.
   */
  def stratifiedSample(key: Column, stratum: Column,
      pctByStratum: Map[String, Int]): Column = {
    val bucket = graft.expr.PortableHash.hex15Col(key) % 100
    pctByStratum.foldLeft(lit(false)) { case (acc, (s, pct)) =>
      acc || (stratum === s && bucket < pct)
    }
  }

  /**
   * Deterministic mixture sampling with UP-sampling: the domain
   * reweighting a pretraining mixture runs (temperature sampling over
   * source corpora — Raffel et al.'s T5 §3.4.2 shape). Each stratum's
   * weight `w` may exceed 1: a row yields ⌊w⌋ copies plus one more when
   * its md5 bucket (10000 basis points — integer compare, engine-exact)
   * falls under frac(w); expectation per stratum is w·|stratum|.
   * Unlisted strata drop. Complements [[stratifiedSample]] (pure filter,
   * w ≤ 1). Output: the input columns + `copy` (1-based duplicate
   * index). Row-local explode — zero shuffles, and membership/copy
   * counts are content-keyed: reproducible across engines, runs and
   * partitionings.
   */
  def mixtureSample(df: DataFrame, key: Column, stratum: Column,
      weightByStratum: Map[String, Double]): DataFrame = {
    val bucket = graft.expr.PortableHash.hex15Col(key) % 10000
    val copies = weightByStratum.foldLeft(lit(0)) { case (acc, (s, w)) =>
      require(w >= 0, s"negative weight for stratum $s")
      val fl = math.floor(w).toInt
      val bp = math.round((w - fl) * 10000).toInt
      when(stratum === s,
        lit(fl) + when(bucket < bp, 1).otherwise(0)).otherwise(acc)
    }
    df.withColumn("__copies", copies)
      .withColumn("copy", explode(
        when(col("__copies") >= 1, sequence(lit(1), col("__copies")))
          .otherwise(array().cast("array<int>"))))
      .drop("__copies")
  }

  /**
   * DSIR-flavored importance weights (Xie et al. 2023, "Data Selection
   * for Language Models via Importance Resampling"): score each raw
   * document by how much more likely its hashed bag-of-unigrams is under
   * the TARGET distribution than under the RAW distribution —
   * `w(d) = Σ_tok [ log p_t(b(tok)) − log p_r(b(tok)) ]` with
   * `b(tok) = md5(tok) mod buckets` (engine-portable like every sketch
   * kernel here) and Laplace-smoothed bucket probabilities
   * `p(b) = (count(b)+1)/(N+buckets)`. Selection is then top-weight (or
   * a Gumbel resample over w). Returns `(id, w)` with w rounded to 4dp —
   * ONE ROW PER RAW DOCUMENT: a token-less (empty/whitespace-only) text
   * scores the neutral 0.0 rather than vanishing, so selection joins
   * downstream never silently lose ids.
   *
   * Scale shape: both count tables reduce to ≤ `buckets` rows under
   * partial aggregation (only bucket-id longs shuffle) and broadcast to
   * the scoring pass; the per-document reduction shuffles exact
   * `(id, bucket, count)` ints. The target corpus — a small quality
   * reference set — is read once; the raw corpus is scanned twice (the
   * counts pass must finish before it can broadcast to scoring) —
   * persist the projected token frame upstream if that scan dominates.
   *
   * Determinism: per-document terms fold in ascending BUCKET order over
   * the exact per-(doc, bucket) counts — an unordered float sum would
   * vary with each engine's aggregation order and could flip the 4dp
   * rounding (same contract as [[graft.ops.Ann.meanPool]]).
   */
  def importanceWeights(raw: DataFrame, rawId: Column, rawText: Column,
      target: DataFrame, targetText: Column, buckets: Int = 512): DataFrame = {
    def toks(df: DataFrame, text: Column, keep: Seq[Column]): DataFrame =
      df.select(keep :+ explode(array_remove(split(text, "\\s+"), "")).as("tok"): _*)
        .withColumn("b", graft.expr.PortableHash.hex15Col(col("tok")) % buckets)
        .drop("tok")
    val rawToks = toks(raw, rawText, Seq(rawId.as("id")))
    val tgtToks = toks(target, targetText, Seq.empty)
    val tgtCounts = tgtToks.groupBy("b").agg(count(lit(1)).as("ct"))
    val rawCounts = rawToks.groupBy("b").agg(count(lit(1)).as("cr"))
    val totals = tgtCounts.agg(sum("ct").as("nt"))
      .crossJoin(rawCounts.agg(sum("cr").as("nr")))
    // nt coalesces so an EMPTY target corpus degrades to the uniform
    // prior (all-smoothing) instead of null weights
    val term =
      log((coalesce(col("ct"), lit(0L)) + 1) /
        (coalesce(col("nt"), lit(0L)) + lit(buckets)).cast("double")) -
      log((col("cr") + 1) / (col("nr") + lit(buckets)).cast("double"))
    val scored = rawToks
      .groupBy("id", "b").agg(count(lit(1)).as("nb"))
      .join(broadcast(tgtCounts), Seq("b"), "left")
      .join(broadcast(rawCounts), Seq("b"))
      .crossJoin(broadcast(totals))
      .select(col("id"), col("b"), (col("nb") * term).as("t"))
      .groupBy("id")
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("b"), col("t")))),
        lit(0.0), (acc, x) => acc + x.getField("t")), 4).as("w"))
    raw.select(rawId.as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"), coalesce(col("w"), lit(0.0)).as("w"))
  }

  /**
   * Cluster-balanced subselection: keep `perCluster` rows from each
   * learned k-means cluster — the diversity-preserving downsample
   * (SemDeDup-style cluster coverage) that a uniform random sample does
   * not give when the corpus is skewed toward a few dense modes. Pick
   * order within a cluster is md5-of-id (content-keyed, engine- and
   * run-reproducible, uniform), ranked through the bounded grouped-top-k
   * aggregator — no window. Returns `(cluster, rnk, id)`.
   *
   * The md5 rank key reduces mod 1e9 so it is exact in the aggregator's
   * double state (the raw 60-bit value is not); collisions just fall to
   * the id tiebreak, identically in any engine.
   */
  def clusterBalancedSample(emb: DataFrame, idCol: Column, vecCol: Column,
      perCluster: Int, nlist: Int = 8, iters: Int = 2,
      sampleFraction: Int = 50): DataFrame = {
    val cents = Ivf.trainCentroids(emb, idCol, vecCol, nlist, iters,
      sampleFraction)
    val assigned = Ivf.assignClusters(
      emb.select(idCol.cast("long").as("id"), vecCol.cast("array<float>").as("v")),
      col("id"), col("v"), cents)
    val pickKey =
      -(graft.expr.PortableHash.hex15Col(col("id")) % 1000000000L).cast("double")
    TopK.perGroup(
        assigned.select(col("cluster"), col("id"), pickKey.as("nk")),
        Seq(col("cluster")), col("id"), col("nk"), perCluster)
      .select(col("cluster").cast("bigint").as("cluster"),
        col("rnk").cast("bigint").as("rnk"), col("id"))
      .orderBy("cluster", "rnk")
  }

  /** Top-n vocabulary with counts (explode → count → top-n). The explode
    * shuffles (word, 1) pairs — at 100 TB cap it with a pre-aggregation per
    * partition, which Spark's partial aggregation already provides. */
  def termFrequencies(df: DataFrame, text: Column, n: Int): DataFrame =
    df.select(explode(split(trim(text), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count("*").as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(n)

  /** Deterministic shard id for training-data export: first 15 hex chars
    * of md5(key) mod `nShards` — content-keyed like [[splitAssign]], so a
    * document's shard never depends on partitioning, run, or engine (the
    * DuckDB oracle recomputes it), and re-exports are incremental-friendly
    * (unchanged docs land in unchanged shards). */
  def shardAssign(key: Column, nShards: Int): Column =
    (graft.expr.PortableHash.hex15Col(key) % nShards).cast("int")

  /**
   * Export the corpus as `nShards` deterministic hash shards — the layout
   * a training job reads (shard = unit of data-parallel assignment):
   * `path/shard=N/part-*.parquet` plus a `_manifest.json` with per-shard
   * row counts for reader-side integrity checks. Returns the per-shard
   * `(shard, n_rows)` stats.
   *
   * Scale shape: one `repartition(nShards, shard)` exchange co-locates
   * each shard into one task → one file per shard (training readers want
   * few, large, evenly-sized files; the md5 key makes sizes uniform by
   * construction). For shards larger than a task should hold, pass a
   * `filesPerShard > 1` to fan each shard across that many tasks.
   */
  def writeShards(df: DataFrame, key: Column, nShards: Int, path: String,
      filesPerShard: Int = 1): DataFrame = {
    val spark = df.sparkSession
    val sharded = df.withColumn("shard", shardAssign(key, nShards))
    // sub-key must be independent of `shard = h % nShards`: h / nShards
    // keeps the quotient bits (h % filesPerShard would be constant within
    // a shard whenever gcd(nShards, filesPerShard) > 1 — e.g. 16 shards ×
    // 2 files would collapse to one file per shard)
    val parted =
      if (filesPerShard <= 1) sharded.repartition(nShards, col("shard"))
      else {
        // sub-key = (h mod n·f) div n — together with shard = h mod n this
        // is a bijection of h mod n·f, so every shard fans across exactly
        // `filesPerShard` sub-keys whatever gcd(n, f) is. Reduce mod n·f
        // FIRST: Column `/` is double division, exact only below 2^53 —
        // fine after the mod, wrong on the raw 60-bit hash.
        val m = nShards.toLong * filesPerShard
        val subKey = floor((graft.expr.PortableHash.hex15Col(key) % m)
          / nShards).cast("long")
        sharded.repartition(nShards * filesPerShard, col("shard"), subKey)
      }
    parted.write.mode("overwrite").partitionBy("shard").parquet(path)
    val stats = spark.read.parquet(path)
      .groupBy("shard").agg(count("*").as("n_rows"))
      .orderBy("shard")
    val manifest = stats.collect()
      .map(r => s"""{"shard": ${r.get(0)}, "n_rows": ${r.getLong(1)}}""")
      .mkString("[", ", ", "]")
    // through the Hadoop FS of the export path — java.nio would break the
    // moment `path` is hdfs:// or s3a:// (the layout's actual habitat)
    val hPath = new org.apache.hadoop.fs.Path(path, "_manifest.json")
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(hPath, true)
    try out.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    stats
  }

  /**
   * Corpus DATASHEET: the one-row summary card a curated release ships
   * with — document count, token total, vocabulary size, exact-duplicate
   * document rate (full-text md5), and character-length mean/median.
   * `(n_docs, n_tokens, n_types, pct_dup_docs, mean_chars, p50_chars)`.
   *
   * Scale shape: one aggregation pass over per-row projections (dup rate
   * is a distinct-count over md5 — Spark's two-phase distinct rewrite,
   * partial-agg friendly) plus one vocabulary count over the exploded
   * token stream; the two single-row results broadcast-join. The exact
   * median is per-corpus `percentile` (q63's profiling contract;
   * `approx_percentile` is the 100 TB path, q65). */
  def datasheet(df: DataFrame, textCol: Column, charsCol: Column): DataFrame = {
    val toks = array_remove(split(trim(textCol), "\\s+"), "")
    val base = df.select(md5(textCol).as("h"),
      charsCol.cast("double").as("nc"),
      size(toks).cast("long").as("nt"))
    val main = base.agg(
      count(lit(1)).as("n_docs"),
      sum("nt").as("n_tokens"),
      round(lit(1.0) - count_distinct(col("h")) / count(lit(1)).cast("double"), 4)
        .as("pct_dup_docs"),
      round(avg("nc"), 4).as("mean_chars"),
      round(expr("percentile(nc, 0.5)"), 4).as("p50_chars"))
    val types = df.select(explode(array_remove(split(trim(textCol), "\\s+"), ""))
        .as("w"))
      .agg(count_distinct(col("w")).as("n_types"))
    main.crossJoin(broadcast(types))
      .select(col("n_docs"), col("n_tokens"), col("n_types"),
        col("pct_dup_docs"), col("mean_chars"), col("p50_chars"))
  }

  /**
   * EXACT range sharding for globally-SORTED export: assign each row the
   * 0-based shard of its global rank under `orderCols` (ntile semantics —
   * the first `N mod n` shards take one extra row), so reading
   * `shard=0, 1, …` in order replays the corpus in total order and every
   * shard is balanced to ±1 row. This is what `repartitionByRange` can
   * NOT give a verifier: its sampled boundaries are engine-private and
   * only approximately balanced, while ntile-of-exact-rank is a pure
   * function of the data (the DuckDB oracle recomputes it as
   * `ntile(n) OVER (ORDER BY …)`).
   *
   * `orderCols` MUST be a unique total order (end it with a unique id):
   * with ties the rank split inside a tie group would depend on physical
   * row order. Returns the input columns + `shard` (int).
   *
   * Scale shape: the global rank is the [[packSequences]] two-pass
   * distributed prefix sum — range-partition + local sort, count each
   * partition (one long per partition to the driver), scan the counts
   * into start offsets, then a second local pass turns offset + position
   * into rank → shard. No unpartitioned window (`Window.orderBy` with no
   * partition moves the corpus to ONE task), no global sort beyond the
   * range exchange every sorted export needs anyway. The ordered input is
   * computed twice (once per pass) — persist upstream if it's expensive.
   */
  def rangeShardAssign(df: DataFrame, orderCols: Seq[Column],
      nShards: Int): DataFrame = {
    require(nShards >= 1, "need nShards >= 1")
    val spark = df.sparkSession
    val parted = df.repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val rdd = parted.rdd
    val counts = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var c = 0L; it.foreach(_ => c += 1); Iterator((pid, c))
      }
      .collect().sortBy(_._1).map(_._2)
    val total = counts.sum
    val offsets = spark.sparkContext.broadcast(counts.scanLeft(0L)(_ + _))
    // ntile over 0-based rank: q = N div n, r = N mod n; the first r
    // tiles hold q+1 rows, the rest q
    val q = total / nShards
    val r = total % nShards
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var rank = offsets.value(pid)
      it.map { row =>
        val shard =
          if (rank < r * (q + 1)) rank / (q + 1)
          else r + (rank - r * (q + 1)) / q
        rank += 1
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ shard.toInt)
      }
    }
    spark.createDataFrame(out,
      df.schema.add("shard", org.apache.spark.sql.types.IntegerType))
  }

  /**
   * Write the corpus as `nShards` globally-SORTED range shards —
   * `path/shard=N/part-*.parquet`, each shard internally sorted by
   * `orderCols` and all of shard N ordered before shard N+1 — plus a
   * `_manifest.json` with per-shard `(shard, n_rows, min_key, max_key)`
   * (min/max of the first order column) so a training reader can both
   * integrity-check and range-prune. The [[writeShards]] layout with
   * order where that has hash uniformity. Returns the manifest stats.
   *
   * One extra exchange beyond [[rangeShardAssign]]: co-locating each
   * shard into its writer task (then re-sorting locally — the shard
   * exchange is hash-based and order-destroying). */
  def writeRangeShards(df: DataFrame, orderCols: Seq[Column], nShards: Int,
      path: String): DataFrame = {
    val spark = df.sparkSession
    val assigned = rangeShardAssign(df, orderCols, nShards)
    assigned.repartition(nShards, col("shard"))
      .sortWithinPartitions(orderCols: _*)
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    val keyName = assigned.drop("shard")
      .select(orderCols.head).schema.head.name
    val stats = spark.read.parquet(path)
      .groupBy("shard")
      .agg(count("*").as("n_rows"),
        min(col(keyName)).cast("string").as("min_key"),
        max(col(keyName)).cast("string").as("max_key"))
      .orderBy("shard")
    // keys are arbitrary user data: escape them or the manifest stops
    // being JSON the first time a key contains a quote or newline; an
    // all-null key column renders as a JSON null, not a crash
    def jstr(s: String): String =
      if (s == null) "null"
      else "\"" + s.flatMap {
        case '"'           => "\\\""
        case '\\'          => "\\\\"
        case c if c < ' '  => f"\\u${c.toInt}%04x"
        case c             => c.toString
      } + "\""
    val manifest = stats.collect()
      .map(r => s"""{"shard": ${r.get(0)}, "n_rows": ${r.getLong(1)}, """ +
        s""""min_key": ${jstr(r.getString(2))}, "max_key": ${jstr(r.getString(3))}}""")
      .mkString("[", ", ", "]")
    val hPath = new org.apache.hadoop.fs.Path(path, "_manifest.json")
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(hPath, true)
    try out.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    stats
  }

  /**
   * Concat-and-chunk sequence packing: documents ordered by `order` are
   * conceptually concatenated and cut every `budget` tokens — the packing
   * used to fill fixed context windows without padding. A document lands in
   * the bin where its first token falls. Returns per-bin stats
   * `(bin, n_docs, tokens)`.
   *
   * The global running sum is a two-pass distributed prefix sum, NOT an
   * unpartitioned window (`Window.orderBy` with no partition moves every
   * row to ONE task — the classic scale-killer): range-partition by the
   * order key and sort within partitions, take per-partition token
   * subtotals (one tiny row per partition to the driver), scan them into
   * start offsets, then a second per-partition pass assigns each row's bin
   * from its partition offset + local cumulative sum. Identical result, and
   * every stage is as parallel as the partitioning. The ordered input is
   * computed twice (once per pass) — both passes are deterministic; callers
   * with an expensive upstream should persist before calling.
   */
  def packSequences(df: DataFrame, order: Column, tokens: Column,
      budget: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parted = df.select(tokens.cast("long").as("t"), order.as("o"))
      .repartitionByRange(col("o"))
      .sortWithinPartitions("o")
      .select(col("t")).as[Long]
    val rdd = parted.rdd
    // pass 1: per-partition subtotals — `#partitions` longs on the driver
    val sums = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L; it.foreach(s += _); Iterator((pid, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(sums.scanLeft(0L)(_ + _))
    // pass 2: local cumulative sum seeded by the partition's start offset
    rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var cum = offsets.value(pid)
        it.map { t => val bin = cum / budget; cum += t; (bin, t) }
      }
      .toDF("bin", "t")
      .groupBy("bin")
      .agg(count("*").as("n_docs"), sum("t").as("tokens"))
      .orderBy("bin")
  }

  /** Per-document bin ASSIGNMENT under [[packSequences]]' exact
    * first-fit-in-order contract: `(id, bin, t)` — the same two-pass
    * distributed prefix sum (range-partition by the order key,
    * per-partition subtotals to the driver, offset-seeded local scan),
    * but keeping each row's identity instead of aggregating to bin
    * stats. This is the op to call when the BIN MEMBERSHIP matters —
    * e.g. semantic packing, where ordering by (IVF cell, id) makes each
    * training bin's sequences mutual in-batch hard negatives
    * (contrastive batches are only as hard as their co-packed
    * neighbors). Order keys compare lexicographically in `order`'s
    * column sequence. */
  def packAssign(df: DataFrame, idCol: Column, order: Seq[Column],
      tokens: Column, budget: Long): DataFrame = {
    require(budget > 0, "budget must be > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val parted = df.select((idCol.cast("long").as("id") +:
        tokens.cast("long").as("t") +:
        order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }): _*)
      .repartitionByRange(order.indices.map(i => col(s"__o$i")): _*)
      .sortWithinPartitions(order.indices.map(i => col(s"__o$i")): _*)
      .select(col("id"), col("t")).as[(Long, Long)]
    val rdd = parted.rdd
    val sums = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L; it.foreach(s += _._2); Iterator((pid, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(sums.scanLeft(0L)(_ + _))
    rdd.mapPartitionsWithIndex { (pid, it) =>
      var cum = offsets.value(pid)
      it.map { case (id, t) => val bin = cum / budget; cum += t; (id, bin, t) }
    }.toDF("id", "bin", "t")
  }

  /** The PACKED EXAMPLES themselves: concatenate each [[packAssign]]
    * bin's documents (id-ascending — map any schedule into the id
    * space upstream, e.g. via [[curriculumOrder]]'s ord) into one
    * training sequence joined by `sep`. Returns
    * `(bin, n_docs, tokens, text)`. One bin-keyed aggregation after
    * the two-pass assignment; per-bin payload is budget-bounded by
    * construction, so the sort inside each bin's collected list is
    * O(budget) — never a corpus sort. */
  def packTexts(df: DataFrame, idCol: Column, textCol: Column,
      tokens: Column, budget: Long, sep: String = "\n\n"): DataFrame = {
    val assigned = packAssign(
      df.select(idCol.cast("long").as("id"), textCol.as("__txt"),
        tokens.cast("long").as("__tk")),
      col("id"), Seq(col("id")), col("__tk"), budget)
    df.select(idCol.cast("long").as("id"), textCol.as("__txt"))
      .join(assigned, "id")
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("tokens"),
        array_join(transform(
            array_sort(collect_list(struct(col("id"), col("__txt")))),
            s => s.getField("__txt")), sep)
          .as("text"))
  }

  /** Inverse-cloze-task pairs (Lee et al., ACL 2019 — the standard
    * unsupervised retrieval pre-training objective): split each document
    * into `unitTokens`-token units, pick ONE unit as the pseudo-query
    * (md5-deterministic), and emit the rest as its positive context.
    * With probability 1/10 (again md5-keyed) the picked unit stays in
    * the context — the paper's leave-in trick that teaches lexical
    * overlap matching. Pure row-local array arithmetic: codegen,
    * streaming-safe, no shuffle. Output: `(id, n_units, q_idx,
    * query_text, context_text, kept)`; documents shorter than two units
    * drop (no context to pair against). */
  def ictPairs(df: DataFrame, idCol: Column, textCol: Column,
      unitTokens: Int = 4): DataFrame = {
    require(unitTokens > 0, "unitTokens must be > 0")
    // tokens project first: referenced inside the unit lambda, the regex
    // split would otherwise re-run once per unit
    val toks = col("__tk")
    val nUnits = ceil(size(toks) / lit(unitTokens.toDouble)).cast("int")
    val units = transform(sequence(lit(0), nUnits - 1),
      i => concat_ws(" ", slice(toks, i * unitTokens + 1, lit(unitTokens))))
    // greatest(·, 1): unit-less docs drop below, but ANSI mode evaluates
    // the projection before the filter — never mod by zero
    val qIdx = (graft.expr.PortableHash.hex15Col(
      concat(lit("ict:"), col("id").cast("string"))) % greatest(nUnits, lit(1)))
      .cast("int")
    val keep = graft.expr.PortableHash.hex15Col(
      concat(lit("ictkeep:"), col("id").cast("string"))) % 10 === 0
    df.select(idCol.cast("long").as("id"),
        array_remove(split(textCol, "\\s+"), "").as("__tk"))
      .select(col("id"), nUnits.as("n_units"), qIdx.as("q_idx"),
        units.as("__u"), keep.as("kept"))
      .filter(col("n_units") >= 2)
      .select(col("id"), col("n_units").cast("long").as("n_units"),
        col("q_idx").cast("long").as("q_idx"),
        element_at(col("__u"), col("q_idx") + 1).as("query_text"),
        when(col("kept"), concat_ws(" ", col("__u"))).otherwise(
          concat_ws(" ", filter(col("__u"),
            (_, i) => i =!= col("q_idx")))).as("context_text"),
        col("kept"))
  }

  /** BART-style token-deletion noising (Lewis et al. 2020 §2.1 — the
    * denoising-autoencoder corruption next to [[spanCorruption]]'s T5
    * sentinels and [[fimTransform]]'s PSM rewrite): each token deletes
    * independently with probability `pct`/100, keyed on
    * md5(`"noise:" id ":" position`) so the corruption is deterministic,
    * partition-invariant, and engine-replayable. The first token always
    * survives (a non-empty doc never noises to empty — the degenerate
    * target BART excludes). Pure row-local array arithmetic: codegen
    * HOFs, no shuffle, streaming-safe. Output:
    * `(id, n_tokens, n_deleted, noised_text)`. */
  def wordNoise(df: DataFrame, idCol: Column, textCol: Column,
      pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, "pct in [0, 100]")
    val id = idCol.cast("long")
    val toks = array_remove(split(trim(textCol), "\\s+"), "")
    val kept = filter(toks, (_, i) =>
      i === 0 || graft.expr.PortableHash.hex15Col(
        concat(lit("noise:"), id.cast("string"), lit(":"),
          i.cast("string"))) % 100 >= pct)
    df.select(id.as("id"), size(toks).cast("long").as("n_tokens"),
      (size(toks) - size(kept)).cast("long").as("n_deleted"),
      concat_ws(" ", kept).as("noised_text"))
  }

  /** Token-budget truncation — the context-window fit step every
    * training pipeline runs last: keep the first `budget` tokens
    * (`strategy = "head"`), the last (`"tail"`), or the first and last
    * `budget/2` joined by an ellipsis token (`"both"` — the
    * LongT5/lost-in-the-middle mitigation that preserves document
    * boundaries). Returns `(id, kept_text, n_tokens, n_kept,
    * truncated)`. Pure row-local array slicing — codegen,
    * streaming-safe; documents within budget pass through verbatim
    * token-wise (whitespace normalizes to single spaces). */
  def tokenBudgetTruncate(df: DataFrame, idCol: Column, textCol: Column,
      budget: Int, strategy: String = "head"): DataFrame = {
    require(budget >= 2, "budget must be >= 2")
    require(Set("head", "tail", "both")(strategy),
      s"unknown strategy '$strategy' (head|tail|both)")
    val toks = array_remove(split(trim(textCol), "\\s+"), "")
    val n = size(toks)
    val kept = strategy match {
      case "head" => slice(toks, lit(1), lit(budget))
      case "tail" => slice(toks, -lit(budget), lit(budget))
      case "both" =>
        val h = budget / 2
        val t = budget - h - 1 // one slot spent on the ellipsis token
        concat(slice(toks, lit(1), lit(h)), array(lit("…")),
          slice(toks, -lit(t), lit(t)))
    }
    val out = when(n <= budget, concat_ws(" ", toks))
      .otherwise(concat_ws(" ", kept))
    val nKept = when(n <= budget, n).otherwise(least(lit(budget), n))
    df.select(idCol.cast("long").as("id"), out.as("kept_text"),
      n.cast("long").as("n_tokens"), nKept.cast("long").as("n_kept"),
      (n > budget).as("truncated"))
  }

  /** One-row efficiency report over a [[packSequences]] result: bin
    * count, total tokens, mean/min/max bin utilization against `budget`,
    * and the waste fraction — the number a packing strategy is judged
    * by (every unfilled slot is paid-for compute attending to padding).
    * Bin-bounded aggregation; nothing touches the corpus again. */
  def packingReport(packed: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, "budget must be > 0")
    val u = col("tokens").cast("double") / budget
    packed.agg(count(lit(1)).as("n_bins"),
        sum("tokens").as("total_tokens"),
        round(avg(u), 4).as("mean_util"),
        round(min(u), 4).as("min_util"),
        round(max(u), 4).as("max_util"))
      .withColumn("waste_frac",
        round(lit(1.0) - col("total_tokens") /
          (col("n_bins") * lit(budget)).cast("double"), 4))
  }

  /**
   * Deterministic WEIGHTED sampling without replacement (Efraimidis–
   * Spirakis A-ES): each row draws `u ∈ (0, 1]` from the md5 of its
   * content key and scores `u^(1/w)`; the `k` largest scores are a
   * weight-proportional k-subset — a quality-score-weighted corpus
   * sample in one pass, reproducible across engines, runs and
   * partitionings (the [[splitAssign]] md5 stance: no RNG state, the
   * content IS the randomness). Rows with null or non-positive weight
   * never sample. Returns the selected input rows.
   *
   * Scale shape: TakeOrderedAndProject — per-partition k-heaps + driver
   * merge, no global sort, no shuffle ([[exactSample]]'s plan, which
   * this generalizes: constant weights degrade to exactly it). */
  /** Systematic (every step-th) sample over a TOTAL ordering — the
    * audit-sample staple: deterministic, evenly spread across the sort
    * dimension (a hash sample clusters by chance; systematic coverage
    * is uniform by construction, the property QA eyeballs want when
    * the sort is time or quality score). Keeps rows whose 1-based
    * global rank r satisfies `(r − 1) % step == offset`. `sortCols`
    * must be a total order (include a unique id as the last key) or
    * the rank — and thus the sample — is not well-defined. Returns the
    * input rows + their rank as `gidx`.
    *
    * Scale shape: [[graft.ops.Scale.withGlobalIndex]] — range partition
    * + per-partition ranks + broadcast offsets, never a single-task
    * global sort; the modulo filter is row-local after that. */
  def systematicSample(df: DataFrame, sortCols: Seq[Column], step: Int,
      offset: Int = 0): DataFrame = {
    require(step >= 1, "systematicSample: step must be >= 1")
    require(offset >= 0 && offset < step,
      "systematicSample: offset must be in [0, step)")
    graft.ops.Scale.withGlobalIndex(df, sortCols, "gidx")
      .filter(pmod(col("gidx") - 1, lit(step.toLong)) === offset)
  }

  def weightedSample(df: DataFrame, keyCol: Column, weightCol: Column,
      k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    // u in (0,1]: 60-bit md5 prefix + 1 over 2^60
    val u = (graft.expr.PortableHash.hex15Col(keyCol) + lit(1L)) /
      lit(math.pow(2.0, 60))
    val w = weightCol.cast("double")
    df.filter(w.isNotNull && w > 0)
      .orderBy(pow(u, lit(1.0) / w).desc, keyCol.asc)
      .limit(k)
  }

  /**
   * Per-STRATUM [[weightedSample]] — `k` weight-proportional rows from
   * EVERY stratum (language, source, quality bin) in one pass: the
   * balanced eval-set builder. Same Efraimidis–Spirakis content-keyed
   * score; `keyCol` must be the numeric document id (it rides the
   * bounded top-k buffer). Returns `(stratum, rnk, id)`.
   *
   * Scale shape: [[graft.ops.TopK.perGroup]] — bounded map-side buffers,
   * never a `row_number` window's full per-stratum sort; the shuffle
   * carries ≤ partitions × strata × k structs. */
  def weightedSamplePerStratum(df: DataFrame, keyCol: Column,
      stratumCol: Column, weightCol: Column, k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    val u = (graft.expr.PortableHash.hex15Col(keyCol) + lit(1L)) /
      lit(math.pow(2.0, 60))
    val w = weightCol.cast("double")
    val scored = df.filter(w.isNotNull && w > 0)
      .select(stratumCol.cast("string").as("stratum"),
        keyCol.cast("long").as("kid"), pow(u, lit(1.0) / w).as("es"))
    TopK.perGroup(scored, Seq(col("stratum")), col("kid"), col("es"), k)
      .select(col("stratum"), col("rnk"), col("id"))
  }

  /**
   * Token-budget mixture allocation — the planning step of a pretraining
   * data mix: given per-document source + token counts, target mixture
   * weights, a total token budget, and a repetition ceiling, how many
   * tokens each source contributes and where the mix falls short.
   * Per source: `alloc = ⌊budget·w⌋` (the target), `cap =
   * ⌊tokens·maxEpochs⌋` (what the source can supply under the epoch
   * ceiling — Muennighoff et al.'s repeated-data regime is the caller's
   * `maxEpochs` policy), `granted = min(alloc, cap)`, and the SHORTFALL
   * `alloc − granted` is REPORTED, not silently redistributed —
   * reallocation across sources is a second policy pass, not this
   * measurement. Sources absent from `targetWeights` get weight 0 (rows
   * still counted). Returns `(source, n_docs, tokens, target_w,
   * alloc_tokens, cap_tokens, granted_tokens, epochs, shortfall)`,
   * epochs at 4dp.
   *
   * Scale shape: ONE partial-agg pass over the corpus (source-bounded
   * output); the allocation arithmetic is row-local on the tiny
   * per-source frame. */
  def mixtureBudget(df: DataFrame, sourceCol: Column, tokensCol: Column,
      targetWeights: Map[String, Double], budget: Long,
      maxEpochs: Double = 4.0): DataFrame = {
    require(budget > 0, "budget must be > 0")
    require(maxEpochs > 0, "maxEpochs must be > 0")
    val w = targetWeights.foldLeft(lit(0.0)) { case (acc, (s, tw)) =>
      when(col("source") === s, tw).otherwise(acc)
    }
    df.select(sourceCol.cast("string").as("source"),
        tokensCol.cast("long").as("t"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("tokens"))
      .withColumn("target_w", w)
      .withColumn("alloc_tokens", floor(lit(budget) * col("target_w")))
      .withColumn("cap_tokens",
        floor(col("tokens") * lit(maxEpochs)))
      .withColumn("granted_tokens", least(col("alloc_tokens"), col("cap_tokens")))
      .withColumn("epochs",
        when(col("tokens") === 0, lit(0.0))
          .otherwise(round(col("granted_tokens") / col("tokens"), 4)))
      .withColumn("shortfall", col("alloc_tokens") - col("granted_tokens"))
  }

  /**
   * Split-leakage audit — measures what [[leakageSafeSplit]] prevents:
   * cross-split document pairs sharing ≥ `minShared` distinct word
   * `n`-grams (a train doc whose paraphrase sits in val/test poisons the
   * eval). `splitCol` is the caller's assignment ([[splitAssign]] for the
   * naive baseline, [[leakageSafeSplit]]'s label to verify the fix); the
   * audit reports `(train_id, eval_id, split, n_shared)` for every leaky
   * pair, train side × non-train side. Grams indexed in more than
   * `maxDf` documents are dropped first (boilerplate is not leakage
   * evidence — the [[graft.ops.TextAnalysis.winnowOverlapPairs]] stop-
   * gram stance), which also bounds join fan-out per gram.
   *
   * Scale shape: documents reduce to distinct `(id, split, gram-md5)`
   * rows row-locally; the df-prune is one partial-agg count + broadcast
   * anti-join; the cross-split equi-join carries longs with every
   * bucket ≤ maxDf. Never all-pairs, text never shuffles. */
  def splitLeakage(df: DataFrame, idCol: Column, textCol: Column,
      splitCol: Column, n: Int = 5, minShared: Int = 1,
      maxDf: Int = 10): DataFrame = {
    require(n >= 1 && minShared >= 1 && maxDf >= 2,
      "need n >= 1, minShared >= 1, maxDf >= 2")
    // the token array is its own projection: inside the gram lambda the
    // regex split would re-run once per gram (QualitySignals.grams)
    val grams = Dedup.spreadSmallScan(
        df.select(idCol.cast("long").as("id"),
          splitCol.cast("string").as("split"), textCol.as("__t")), col("id"))
      .select(col("id"), col("split"),
        array_remove(split(col("__t"), "\\s+"), "").as("__tk"))
      .select(col("id"), col("split"),
        explode(array_distinct(QualitySignals.grams(col("__tk"), n))).as("g"))
      .select(col("id"), col("split"),
        graft.expr.PortableHash.hex15Col(col("g")).as("h"))
    val hot = grams.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("h"))
    val pruned = grams.join(broadcast(hot), Seq("h"), "left_anti")
    val train = pruned.filter(col("split") === "train")
      .select(col("h"), col("id").as("train_id"))
    val eval_ = pruned.filter(col("split") =!= "train")
      .select(col("h"), col("id").as("eval_id"), col("split"))
    train.join(eval_, "h")
      .groupBy("train_id", "eval_id", "split")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * Soft dedup — downweight duplicates instead of removing them
   * (SoftDeDup, He et al. 2024): every member of a duplicate cluster gets
   * sampling weight `1 / cluster_size`, singletons keep weight 1.0, so
   * each distinct content unit contributes one expected copy per epoch
   * while no document is discarded outright. `clusters` is the
   * `(id, cluster_id)` frame from [[graft.ops.Dedup.duplicateClusters]]
   * (duplicate members only — singletons are absent by construction).
   *
   * Scale shape: cluster sizes are one partial-agg count over the
   * members-only frame; the weight table (id, cluster_id, weight longs +
   * a double) broadcasts — duplicate membership is a small fraction of
   * any crawl — and the corpus pays one broadcast left-join, never
   * shuffling. If duplicate mass ever outgrows broadcast, drop the hint:
   * the equi-join on id is the same plan shuffled. */
  def softDedupWeights(df: DataFrame, idCol: Column,
      clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    val weights = clusters.join(sizes, "cluster_id")
      .select(col("id").as("_wid"), col("cluster_id"),
        (lit(1.0) / col("cluster_size")).as("_w"))
    df.join(broadcast(weights), idCol.cast("long") === col("_wid"), "left")
      .withColumn("weight", coalesce(col("_w"), lit(1.0)))
      .drop("_wid", "_w")
  }

  /**
   * Preference-pair construction for DPO/RLHF-style training: within each
   * `groupCol` (the prompt key), `chosen` = the highest-`scoreCol` row and
   * `rejected` = the lowest, ties broken toward the smaller id on both
   * sides so the pair is deterministic. Groups whose margin (chosen −
   * rejected score) is not strictly above `minMargin` are dropped — that
   * also removes single-row and all-tied groups, where no informative
   * pair exists. Null/NaN scores are excluded up front: an unscorable
   * candidate can be neither chosen nor rejected.
   *
   * Scale shape: one partial-agg pass — per partition each group reduces
   * to two (score, id) structs, so the exchange carries
   * O(groups × partitions) structs and the corpus text never moves. */
  def preferencePairs(df: DataFrame, groupCol: Column, idCol: Column,
      scoreCol: Column, minMargin: Double = 0.0): DataFrame = {
    require(minMargin >= 0, "minMargin must be >= 0")
    val base = df.select(groupCol.cast("string").as("grp"),
        idCol.cast("long").as("id"), scoreCol.cast("double").as("sc"))
      .filter(col("sc").isNotNull && !isnan(col("sc")))
    base.groupBy("grp")
      .agg(max(struct(col("sc"), (-col("id")).as("nid"))).as("hi"),
        min(struct(col("sc"), col("id").as("pid"))).as("lo"),
        count(lit(1)).as("n_candidates"))
      .select(col("grp"), (-col("hi.nid")).as("chosen_id"),
        col("hi.sc").as("chosen_score"), col("lo.pid").as("rejected_id"),
        col("lo.sc").as("rejected_score"),
        (col("hi.sc") - col("lo.sc")).as("margin"), col("n_candidates"))
      .filter(col("margin") > lit(minMargin))
  }

  /**
   * Temperature-based stratum rebalancing (the multilingual sampling
   * rule of mBERT/XLM-R): target stratum shares ∝ (observed share)^(1/T),
   * realized as deterministic per-row Bernoulli keeps with acceptance
   * rate `r_s = n_s^a / max_t(n_t^a)` where `a = 1/T − 1` — the stratum
   * whose share moves most toward the target keeps everything, every
   * other stratum downsamples proportionally (no replacement, no
   * upsampling). T > 1 flattens toward uniform (low-resource languages
   * gain relative mass), T < 1 sharpens, T = 1 is a pass-through. The
   * keep decision hashes `keyCol` (md5 — reproducible, partition-
   * invariant, the [[mixtureSample]] fractional discipline). Returns the
   * surviving rows plus their stratum's `rate`.
   *
   * Scale shape: one partial-agg stratum count, two broadcast scalar
   * joins (the max-ratio normalizer and the per-stratum rate table), one
   * row-local filter — the corpus never shuffles. */
  def temperatureSample(df: DataFrame, keyCol: Column, stratum: Column,
      temperature: Double): DataFrame = {
    require(temperature > 0, "temperature must be > 0")
    val a = 1.0 / temperature - 1.0
    val counts = df.groupBy(stratum.cast("string").as("stratum"))
      .agg(count(lit(1)).as("n"))
      .withColumn("ratio", pow(col("n").cast("double"), a))
    val zmax = counts.agg(max("ratio").as("zmax"))
    val rates = counts.crossJoin(broadcast(zmax))
      .select(col("stratum"), round(col("ratio") / col("zmax"), 6).as("rate"))
    val u = (graft.expr.PortableHash.hex15Col(
      concat(keyCol, lit(":ts"))) + 1) / lit(1152921504606846976.0)
    df.withColumn("__st", stratum.cast("string"))
      .join(broadcast(rates), col("__st") === col("stratum"))
      .filter(u < col("rate"))
      .drop("__st", "stratum")
  }

  /**
   * DoReMi-style domain reweighting step (Xie et al. 2023, the
   * multiplicative-weights update): each listed source's reference
   * weight is scaled by `exp(eta × mean excess loss)` — domains the
   * proxy model finds hard gain mass — then normalized and smoothed
   * toward uniform by `eps` so no domain starves. Sources absent from
   * `refWeights` hold weight 0 throughout (the [[mixtureBudget]]
   * unlisted-source stance). Null/NaN losses are excluded from the mean.
   * Returns `(source, n_docs, mean_loss, w_ref, w_new)` — one training
   * round's reweighting; iterate by feeding `w_new` back as the next
   * round's `refWeights`.
   *
   * Scale shape: ONE partial-agg corpus pass to a domain-bounded frame;
   * the normalizer is a broadcast one-row aggregate; everything after
   * the first agg is arithmetic on ~|domains| rows. The mean loss is
   * rounded to 6dp before the exponential so the update is
   * engine-reproducible. */
  def domainReweight(df: DataFrame, sourceCol: Column, lossCol: Column,
      refWeights: Map[String, Double], eta: Double = 1.0,
      eps: Double = 0.0): DataFrame = {
    require(eta > 0, "eta must be > 0")
    require(eps >= 0 && eps < 1, "eps must be in [0, 1)")
    require(refWeights.nonEmpty, "refWeights must be non-empty")
    val wRef = refWeights.foldLeft(lit(0.0)) { case (acc, (s, w)) =>
      when(col("source") === s, w).otherwise(acc)
    }
    val per = df.select(sourceCol.cast("string").as("source"),
        lossCol.cast("double").as("l"))
      .filter(col("l").isNotNull && !isnan(col("l")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), round(avg(col("l")), 6).as("mean_loss"))
      .withColumn("w_ref", wRef)
      .withColumn("raw", col("w_ref") * exp(lit(eta) * col("mean_loss")))
    val totals = per.agg(sum("raw").as("z"),
      count(lit(1)).as("k"))
    per.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"),
        round(col("mean_loss"), 4).as("mean_loss"), col("w_ref"),
        round(lit(1.0 - eps) * col("raw") / col("z") +
          lit(eps) / col("k"), 6).as("w_new"))
  }

  /**
   * Cross-source score calibration: raw quality scores are not
   * comparable across sources (a "good" web page and a "good" paper
   * score on different scales), so a single global threshold
   * over-prunes one domain and under-prunes another. This maps each
   * score to its mid-rank CDF position WITHIN its source —
   * `(count_below + count_equal / 2) / n` ∈ (0, 1) — after which one
   * calibrated threshold means the same thing everywhere. Returns
   * `(id, source, score, calibrated)`. Null/NaN scores are dropped.
   *
   * Scale shape: the corpus reduces to a distinct-(source, score) count
   * table under partial aggregation; the cumulative walk windows over
   * THAT bounded table (distinct scores per source, not rows — the
   * [[quantileBins]] contract), and the corpus pays one equi-join on
   * (source, score) to pick up its calibrated value. */
  def scoreRankCalibrate(df: DataFrame, idCol: Column, sourceCol: Column,
      scoreCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(idCol.cast("long").as("id"),
        sourceCol.cast("string").as("source"),
        scoreCol.cast("double").as("score"))
      .filter(col("score").isNotNull && !isnan(col("score")))
    val counts = base.groupBy("source", "score").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cal = counts
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(Window.partitionBy("source")))
      .select(col("source"), col("score"),
        round((col("cum") - col("c") / 2.0) / col("n"), 6).as("calibrated"))
    base.join(cal, Seq("source", "score"))
      .select(col("id"), col("source"), col("score"), col("calibrated"))
  }

  /**
   * Domain-level quality rollup — the per-SOURCE aggregation a crawl
   * pipeline gates on before any per-document filter runs (a domain
   * whose documents are consistently junk is cheaper to drop wholesale;
   * UT1-style blocklists are this table curated by hand). Per source:
   * document count, mean `scoreCol`, share of documents scoring under
   * `lowFloor`, and the gate verdict `keep` = mean ≥ `minMean` AND
   * low-share ≤ `maxLowShare`. Null/NaN scores are excluded from the
   * statistics (a source of only unscorable docs fails the gate:
   * mean null → keep false via null comparison ⇒ coalesced to false).
   *
   * Scale shape: one partial-agg pass keyed by source — domains number
   * in the millions at worst, corpus rows never move. */
  def domainRollup(df: DataFrame, sourceCol: Column, scoreCol: Column,
      minMean: Double, lowFloor: Double,
      maxLowShare: Double = 1.0): DataFrame = {
    val base = df.select(sourceCol.cast("string").as("source"),
        scoreCol.cast("double").as("sc"))
      .filter(col("sc").isNotNull && !isnan(col("sc")))
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("sc")), 4).as("mean_score"),
        round(avg((col("sc") < lowFloor).cast("double")), 4).as("low_share"))
      .withColumn("keep", coalesce(
        col("mean_score") >= minMean && col("low_share") <= maxLowShare,
        lit(false)))
  }

  /** [[domainRollup]]'s removal form: the corpus minus every document
    * whose source failed the gate. The rollup is domain-bounded, so the
    * reject list broadcasts and the corpus pays one anti-join, never
    * shuffling. */
  def domainFilter(df: DataFrame, sourceCol: Column,
      rollup: DataFrame): DataFrame =
    df.join(broadcast(rollup.filter(!col("keep"))
        .select(col("source").as("_bad_src"))),
      sourceCol.cast("string") === col("_bad_src"), "left_anti")

  /**
   * Fill-in-the-middle transform (Bavarian et al. 2022): a deterministic
   * `rate` fraction of documents (md5-keyed — no RNG state, the
   * [[splitAssign]] discipline) is rewritten in PSM order,
   * `<PRE>prefix<SUF>suffix<MID>middle`, with the two character pivots
   * drawn from independent md5 streams; the rest pass through verbatim.
   * Returns `(id, fim, out_text)`. Pure row-local string arithmetic —
   * stays in whole-stage codegen, streams, shuffles nothing.
   */
  def fimTransform(df: DataFrame, idCol: Column, textCol: Column,
      rate: Double = 0.5): DataFrame = {
    require(rate > 0 && rate <= 1, "rate must be in (0, 1]")
    val id = idCol.cast("long")
    val h = (salt: String) =>
      graft.expr.PortableHash.hex15Col(concat(id, lit(":" + salt)))
    val len = length(textCol)
    val sel = (h("fim") % 100 < (rate * 100).round) && len > 0
    val lo = h("fima") % (len + 1)
    val mid = h("fimb") % (len + 1 - lo)
    val out = when(sel,
      concat(lit("<PRE>"), textCol.substr(lit(1), lo),
        lit("<SUF>"), textCol.substr(lo + mid + 1, len - lo - mid),
        lit("<MID>"), textCol.substr(lo + 1, mid)))
      .otherwise(textCol)
    df.select(id.as("id"), sel.as("fim"), out.as("out_text"))
  }

  /**
   * T5-style span corruption (Raffel et al. 2020): token positions are
   * cut into fixed `stride` blocks; in every full-enough block a
   * `spanLen`-token span at a deterministic md5 offset is replaced by one
   * `<extra_id_k>` sentinel (k = block index — sequential, since only the
   * final block can be too short to corrupt), and the target sequence
   * pairs each sentinel with its removed tokens. Returns
   * `(id, input, target, n_spans)`; empty docs yield empty strings.
   *
   * Scale shape: row-local array HOFs over the token list — no shuffle,
   * no state; the md5-per-token offset lookup is the price of
   * engine-portable determinism (an executor-seeded RNG would be
   * cheaper and unverifiable).
   */
  def spanCorruption(df: DataFrame, idCol: Column, textCol: Column,
      stride: Int = 8, spanLen: Int = 2): DataFrame = {
    require(spanLen >= 1 && stride > spanLen,
      "need spanLen >= 1 and stride > spanLen")
    // stage 1: materialize the token list, then the per-BLOCK offset array
    // (ONE md5 per block, not per token — the hoist that keeps the pass
    // linear in tokens, not tokens × md5-cost); -1 = block uncorrupted.
    // The offset lambda reads the PROJECTED token column: over the split
    // expression itself it would re-run the regex split once per block
    val n0 = size(col("_toks"))
    val nBlocks = ceil(n0 / lit(stride.toDouble)).cast("int")
    val offs = when(n0 === 0, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0), nBlocks - 1), b => {
        val blockLen = least(lit(stride), n0 - b * stride)
        val room = blockLen - spanLen + 1
        when(blockLen >= spanLen,
          graft.expr.PortableHash.hex15Col(
            concat(col("id"), lit(":sc:"), b.cast("long"))) % room)
          .otherwise(lit(-1L))
      }))
    val staged = df.select(idCol.cast("long").as("id"),
        array_remove(split(textCol, "\\s+"), "").as("_toks"))
      .select(col("id"), col("_toks"), offs.as("_offs"))
    // stage 2: materialize the classified token list once (`_marked` is
    // consumed three times below — as a named column it evaluates once)
    val n = size(col("_toks"))
    val idxs = when(n === 0,
        array().cast("array<int>")).otherwise(sequence(lit(0), n - 1))
    val marked = transform(idxs, i => {
      val b = (i / stride).cast("int")
      val off = element_at(col("_offs"), b + 1)
      val w = i % stride
      val cls = when(off >= 0 && w === off, lit(1))
        .when(off >= 0 && w > off && w < off + spanLen, lit(2))
        .otherwise(lit(0))
      struct(cls.as("c"), element_at(col("_toks"), i + 1).as("t"),
        b.cast("string").as("b"))
    })
    val sentinel = (m: Column) =>
      concat(lit("<extra_id_"), m.getField("b"), lit(">"))
    val input = concat_ws(" ",
      transform(filter(col("_marked"), m => m.getField("c") =!= 2),
        m => when(m.getField("c") === 1, sentinel(m))
          .otherwise(m.getField("t"))))
    val target = concat_ws(" ",
      transform(filter(col("_marked"), m => m.getField("c") >= 1),
        m => when(m.getField("c") === 1,
          concat(sentinel(m), lit(" "), m.getField("t")))
          .otherwise(m.getField("t"))))
    val nSpans = size(filter(col("_marked"), m => m.getField("c") === 1))
    staged.select(col("id"), marked.as("_marked"))
      .select(col("id"), input.as("input"), target.as("target"),
        nSpans.cast("long").as("n_spans"))
  }

  /** Leakage-safe k-fold target encoding — the high-cardinality
    * categorical featurizer (Micci-Barreca, SIGKDD Expl. 2001 shape):
    * each row's category is replaced by the smoothed mean of an
    * INTEGER target over all OTHER folds,
    * `enc = (T_cat − T_cat,fold + s·ȳ) / (N_cat − N_cat,fold + s)`,
    * so a row never sees its own fold's labels (pair with
    * [[crossFold]] for the fold id). `smoothing` (> 0) shrinks rare
    * categories toward the global mean and keeps single-fold
    * categories finite. Output `(id, cat, fold, encoded)` (4dp).
    *
    * Scale shape: ONE grouped partial-agg pass collapses the corpus to
    * the (cat, fold) table; per-cat totals and the global mean derive
    * from it; the corpus then picks up its encoding by a broadcast
    * join against the bounded (cat, fold) frame — rows never shuffle.
    * Integer targets keep every sum exact, so the encoding is
    * engine-reproducible. */
  def targetEncode(df: DataFrame, idCol: Column, catCol: Column,
      targetCol: Column, foldCol: Column,
      smoothing: Double = 20.0): DataFrame = {
    require(smoothing > 0, "targetEncode: smoothing must be > 0")
    val s = df.select(idCol.as("id"), catCol.cast("string").as("cat"),
        targetCol.cast("long").as("y"), foldCol.cast("long").as("fold"))
      .filter(col("cat").isNotNull && col("y").isNotNull &&
        col("fold").isNotNull)
    val cf = s.groupBy("cat", "fold")
      .agg(count(lit(1)).as("nf"), sum("y").as("tf"))
      .localCheckpoint(eager = true) // read twice: totals + the join
    val ct = cf.groupBy("cat").agg(sum("nf").as("nc"), sum("tf").as("tc"))
    val g = cf.agg((sum("tf") / sum("nf").cast("double")).as("gm"))
    val enc = (col("tc") - col("tf") + lit(smoothing) * col("gm")) /
      (col("nc") - col("nf") + lit(smoothing))
    s.join(broadcast(cf.join(ct, "cat").crossJoin(g)),
        Seq("cat", "fold"))
      .select(col("id"), col("cat"), col("fold"),
        round(enc, 4).as("encoded"))
  }

  /** k-ANONYMITY / l-DIVERSITY audit — the re-identification check a
    * dataset release runs AFTER the PII scrub
    * ([[graft.ops.TextAnalysis]]'s redaction family removes direct
    * identifiers; this catches the INDIRECT ones): a quasi-identifier
    * combination shared by fewer than `k` rows singles its members
    * out (Sweeney 2002), and one whose rows carry fewer than `l`
    * distinct sensitive values leaks the sensitive attribute even at
    * k-anonymous size (Machanavajjhala 2007 — everyone in the
    * 5-person cell has the same diagnosis). Output: the VIOLATING
    * quasi-identifier groups only, as `(…quasi cols, n,
    * n_sensitive, under_k, under_l)` — the release gate is "this
    * frame is empty", and the rows are the suppression/generalization
    * worklist when it is not.
    *
    * Scale shape: ONE groupBy over the quasi columns with a count +
    * exact distinct (two-level partial agg); output is bounded by the
    * violating-group count, never per-row. */
  def kAnonymityReport(df: DataFrame, quasi: Seq[(String, Column)],
      sensitiveCol: Column, k: Int, l: Int): DataFrame = {
    require(quasi.nonEmpty, "kAnonymityReport: no quasi-identifiers")
    require(k >= 1 && l >= 1, "kAnonymityReport: k, l must be >= 1")
    val named = quasi.map { case (n, c) => c.as(n) }
    df.select(named :+ sensitiveCol.as("__s"): _*)
      .groupBy(quasi.map(q => col(q._1)): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col("__s")).as("n_sensitive"))
      .filter(col("n") < k || col("n_sensitive") < l)
      .select(quasi.map(q => col(q._1)) ++ Seq(col("n"),
        col("n_sensitive"), (col("n") < k).as("under_k"),
        (col("n_sensitive") < l).as("under_l")): _*)
  }
}
