package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.core.Tables

/** Distributed classifier TRAINING — SURVEY.md §2.C31c/C47: the missing
  * third of the classifier story (C31 scores with in-kernel weights,
  * C31b serves a stored weights table — these PRODUCE one). The task is
  * heuristic DISTILLATION, a real curation-pipeline pattern (CCNet
  * trains wiki-vs-crawl; production pipelines routinely distill an
  * expensive rule stack into a cheap linear model):
  *
  *  - C31c learns to imitate C10's rule-based quality filter
  *    (label = quality_bp ≥ 5000, the pipeline_curate cutoff) with
  *    binary logistic GD;
  *  - C47 generalizes the loop to SOFTMAX over the C9 langid rule
  *    (5 classes) — the per-language router real pipelines train.
  *
  * Optimizer: full-batch gradient descent over Z-SCORED count features
  * — the classic aggregated-gradient shape ([[Cluster]]'s k-means /
  * [[Embed]]'s PCA split, applied to a model):
  *   - ONE corpus scan builds the persisted (doc_id, bucket, c) count
  *     table and per-doc labels; feature moments (mean/std per bucket)
  *     come from one pass over it;
  *   - per iteration, scoring is a broadcast join of the bounded
  *     weights table (≤ occupied buckets ≤ vocabulary — the C31b
  *     broadcastability argument) + one map-side-combinable per-doc
  *     aggregation; the gradient is one groupBy(bucket[, class]) over
  *     the residual-joined counts — the shuffle carries ≤
  *     occupied-bucket(×class) partial rows, never documents;
  *   - (r7 verdict #6) the WEIGHTS STAY DISTRIBUTED across iterations:
  *     the per-bucket gradient folds into the params DataFrame by a
  *     bucket join, so the per-iteration driver traffic is a constant
  *     handful of scalars (loss, residual sums, the K constants) — the
  *     previous shape collected the full occupied-bucket gradient to
  *     the driver EVERY iteration (~1 M rows × 20 round-trips at full
  *     bucket occupancy). The model materializes on the driver exactly
  *     ONCE, at the end — it is the artifact, and must fit there
  *     regardless. ClassifierTrainSpec measures the per-iteration
  *     driver result bytes.
  *   - the z-score fold stays exact under sparsity: absent features
  *     contribute −μ_b/σ_b·Σr, a rank-one term recovered from the
  *     per-class residual sum.
  *
  * Float iterates aren't hash-gateable (the [[Tokenizer]] unigram
  * stance): the encode queries are rows-only and the
  * `inv_*_distill_accuracy` gates drive training-accuracy floors
  * through the driver gate; ClassifierTrainSpec replays both
  * optimizations densely on the driver and pins weight-level agreement.
  */
object Train {

  private val Iters = 20
  private val Lr = 2.0
  /** Driver-gate floor for binary distillation accuracy (measured 0.948
    * at sf0.01, 0.922 at sf0.1 — margin absorbs data regeneration).
    */
  private val AccFloorBp = 8500L

  import Curation.words

  /** Per-occurrence hashed token counts: (doc_id, bucket, c). */
  private[graft] def bucketCounts(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        explode(graft.functions.Kernels.tokenBuckets(words)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).cast("double").as("c"))

  /** Distillation labels: y = 1 iff C10's quality_bp ≥ 5000 (the
    * pipeline_curate cutoff) — the teacher rule the model imitates.
    */
  private[graft] def distillLabels(d: DataFrame): DataFrame =
    Curation.quality(d, col("doc_id"))
      .select(col("doc_id"),
        when(col("quality_bp") >= 5000, lit(1.0d)).otherwise(lit(0.0d)).as("y"))

  /** A trained linear model over z-scored hashed-count features. */
  final case class LinearModel(
      weights: Map[Long, Double], // per occupied bucket, z-space
      bias: Double,
      mu: Map[Long, Double],
      sd: Map[Long, Double],
      losses: Seq[Double])

  /** Per-bucket z-score moments as COLUMNS — the one definition of the
    * mean/std fold, shared by both trainers.
    */
  private def momentParams(cnts: DataFrame, n: Double): DataFrame =
    cnts.groupBy(col("bucket"))
      .agg(sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"))
      .select(col("bucket"), (col("s1") / n).as("mu"),
        ((col("s2") / n) - (col("s1") / n) * (col("s1") / n)).as("v"))
      .select(col("bucket"), col("mu"),
        when(col("v") > 0, sqrt(col("v"))).otherwise(lit(1.0d)).as("sd"))

  /** Full-batch logistic GD. `cnts` = (doc_id, bucket, c) PERSISTED by
    * the caller (it is read 2·iters + 2 times); `labels` = (doc_id, y).
    * The params table (bucket, w, mu, sd) stays distributed across
    * iterations (checkpointed per step — the BPE lineage lesson);
    * driver traffic per iteration is three scalars.
    */
  def logisticTrain(cnts0: DataFrame, labels: DataFrame,
      iters: Int = Iters, lr: Double = Lr): LinearModel = {
    val n = labels.count().toDouble
    require(n > 0, "logisticTrain: empty corpus")
    // co-partition the count table by bucket ONCE: every iteration's
    // scoring join is then co-partitioned shuffle-hash — the params
    // table never transits the driver (a per-iteration broadcast
    // collects the full weights table to the driver each step, the
    // exact traffic shape this trainer exists to avoid; measured in
    // ClassifierTrainSpec's 16x-vocabulary scale-response test)
    val cnts = cnts0.repartition(col("bucket")).localCheckpoint(true)
    var params = momentParams(cnts, n)
      .select(col("bucket"), lit(0.0d).as("w"), col("mu"), col("sd"))
      .localCheckpoint(true)
    var bias = 0.0
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to iters) {
      // K = Σ_b w_b·μ_b/σ_b — one scalar collect. Deliberately DRIVER-
      // side, not folded into the resid plan: a second in-plan
      // reference to the params leaf makes localCheckpoint's carried
      // origin-stats MULTIPLY per iteration (sizeInBytes digit count
      // doubles each step — by iteration 40 the optimizer ground
      // minutes per multiply in BigInteger; observed, not theoretical)
      val k = params.agg(sum(col("w") * col("mu") / col("sd"))).head.getDouble(0)
      val resid = residualsFromParams(cnts, labels, params, bias - k,
          viaBroadcast = false)
        .localCheckpoint(true)
      try {
        val g = resid.agg(sum(col("r")).as("sr"), sum(col("loss")).as("sl")).head
        val (sr, sl) = (g.getDouble(0), g.getDouble(1))
        losses += sl / n
        val grad = cnts.join(resid.select(col("doc_id"), col("r")), Seq("doc_id"))
          .groupBy(col("bucket")).agg(sum(col("c") * col("r")).as("g"))
        val next = params.join(grad, Seq("bucket"), "left")
          .select(col("bucket"),
            (col("w") - lit(lr) * (coalesce(col("g"), lit(0.0d)) - col("mu") * sr)
              / (col("sd") * n)).as("w"),
            col("mu"), col("sd"))
          .localCheckpoint(true) // eager: a lazy checkpoint + parent unpersist recomputes the chain
        params.unpersist()
        params = next
        bias -= lr * sr / n
      } finally resid.unpersist(blocking = false)
    }
    // the ONE driver materialization: the model artifact itself
    val rows = params.collect()
    params.unpersist()
    cnts.unpersist()
    LinearModel(
      rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap, bias,
      rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap,
      rows.map(r => r.getLong(0) -> r.getDouble(3)).toMap,
      losses.toSeq)
  }

  /** Per-doc (doc_id, y, p, r, loss) under a params DataFrame. The
    * z-space score decomposes sparsely: Σ_b w_b·z_db =
    * Σ_{b∈doc} (w_b/σ_b)·c_db − Σ_b w_b·μ_b/σ_b (the constant K).
    */
  private def residualsFromParams(cnts: DataFrame, labels: DataFrame,
      params: DataFrame, biasMinusK: Double,
      viaBroadcast: Boolean = true): DataFrame = {
    val wsd = params.select(col("bucket"), (col("w") / col("sd")).as("wsd"))
    // broadcast for one-off scoring from a driver-built model; the
    // training loop joins co-partitioned shuffle-hash instead so the
    // weights never transit the driver per iteration. The params leaf
    // appears EXACTLY ONCE in this plan — see the K comment in
    // logisticTrain for why a second reference is forbidden
    val model = if (viaBroadcast) broadcast(wsd) else wsd.hint("shuffle_hash")
    cnts.join(model, Seq("bucket"))
      .groupBy(col("doc_id")).agg(sum(col("c") * col("wsd")).as("raw"))
      .join(labels, Seq("doc_id"))
      .select(col("doc_id"), col("y"),
        (lit(1.0d) / (lit(1.0d) + exp(-(col("raw") + lit(biasMinusK))))).as("p"))
      .select(col("doc_id"), col("y"), col("p"),
        (col("p") - col("y")).as("r"),
        (-(col("y") * log(col("p") + lit(1e-12))
          + (lit(1.0d) - col("y")) * log(lit(1.0d) - col("p") + lit(1e-12)))).as("loss"))
  }

  /** The map-based residual view used by [[predict]] — builds a params
    * frame from the trained model and reuses the ONE implementation.
    */
  private def residuals(s: SparkSession, cnts: DataFrame, labels: DataFrame,
      w: Map[Long, Double], bias: Double,
      mu: Map[Long, Double], sd: Map[Long, Double]): DataFrame = {
    val k = w.iterator.map { case (b, wb) => wb * mu(b) / sd(b) }.sum
    val rows = w.toSeq.map { case (b, wb) => (b, wb, mu(b), sd(b)) }
    val pdf = s.createDataFrame(rows).toDF("bucket", "w", "mu", "sd")
    residualsFromParams(cnts, labels, pdf, bias - k)
  }

  /** Score a corpus with a trained model → (doc_id, label, pred). */
  def predict(s: SparkSession, cnts: DataFrame, labels: DataFrame,
      m: LinearModel): DataFrame =
    residuals(s, cnts, labels, m.weights, m.bias, m.mu, m.sd)
      .select(col("doc_id"), col("y").cast("long").as("label"),
        when(col("p") >= 0.5, lit(1L)).otherwise(lit(0L)).as("pred"))

  /** Training-sample budget (docs). Production distillation trains on
    * a bounded sample and scores the corpus with the result (the r8
    * verdict's C31c/C47 finding: full-corpus epochs × iters is not a
    * 100 TB shape — per-iteration cost must be independent of corpus
    * size). 1500 docs holds hundreds of examples of every teacher
    * class at this data's mix; the `inv_*_distill_accuracy` gates still
    * floor accuracy over the FULL corpus, so a sample too small to
    * generalize becomes a driver failure, not a silent quality drop.
    */
  private[graft] val TrainSampleTargetDocs = 1500L

  /** Deterministic bounded training sample — the ivfBuild hash-mod
    * discipline (Ann.scala): every executor selects the same docs from
    * the same corpus, no RNG state, no sampling shuffle. Degrades to
    * the full corpus when it already fits the budget.
    */
  private[graft] def trainSample(d: DataFrame, target: Long = TrainSampleTargetDocs): DataFrame = {
    val mod = math.max(1L, d.count() / target)
    if (mod <= 1L) d
    else d.where(pmod(xxhash64(col("doc_id")), lit(mod)) === 0)
  }

  /** Collected bounded-sample training set: (per-doc sparse counts,
    * per-doc labels), both sorted by doc_id so driver float-summation
    * order is deterministic run to run. The collect is bounded by
    * construction — ≤ target docs × per-doc distinct buckets (≤ doc
    * tokens), the same budget class as ivfBuild's sample collect.
    */
  private[graft] def collectSample(cnts: DataFrame, labels: DataFrame)
      : (Array[(Long, Array[(Long, Double)])], Array[(Long, Double)]) = {
    val byDoc = cnts.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toArray.sortBy(_._1)
    val ls = labels.select(col("doc_id"), col("y").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    (byDoc, ls)
  }

  /** Driver-side logistic GD over the collected bounded sample — the
    * SAME arithmetic as [[logisticTrain]] (z-scored features, rank-one
    * absent-feature term, identical update), run as tight loops instead
    * of 2·iters Spark jobs. At a fixed sample budget the optimization
    * is O(sample) driver compute — milliseconds — while the distributed
    * trainer pays per-iteration job scheduling regardless of how small
    * the sample is (measured: 40-iteration softmax on a 1.7k-doc sample
    * still cost ~20 s in jobs). ClassifierTrainSpec pins weight-level
    * agreement (1e-6) between the two trainers on the same input.
    */
  private[graft] def logisticTrainDriver(
      docs: Array[(Long, Array[(Long, Double)])], labels: Array[(Long, Double)],
      iters: Int = Iters, lr: Double = Lr): LinearModel = {
    val n = labels.length.toDouble
    require(n > 0, "logisticTrainDriver: empty sample")
    val y = labels.toMap
    val buckets = docs.flatMap(_._2.map(_._1)).distinct.sorted
    // absent (doc, bucket) entries contribute 0 to both moment sums, so
    // one pass over the sparse pairs suffices (doc order is sorted —
    // deterministic float accumulation)
    val s1 = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    val s2 = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    docs.foreach(_._2.foreach { case (b, c) => s1(b) += c; s2(b) += c * c })
    val mu = buckets.map(b => b -> s1(b) / n).toMap
    val sd = buckets.map { b =>
      val m = s1(b) / n; val v = s2(b) / n - m * m
      b -> (if (v > 0) math.sqrt(v) else 1.0)
    }.toMap
    val w = scala.collection.mutable.Map.empty[Long, Double]
      .withDefaultValue(0.0)
    var bias = 0.0
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to iters) {
      val k = buckets.iterator.map(b => w(b) * mu(b) / sd(b)).sum
      var sr = 0.0; var sl = 0.0
      val g = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      val rs = docs.map { case (d, cs) =>
        val raw = cs.iterator.map { case (b, c) => c * w(b) / sd(b) }.sum
        val p = 1.0 / (1.0 + math.exp(-(raw + bias - k)))
        val yd = y(d)
        val r = p - yd
        sr += r
        sl += -(yd * math.log(p + 1e-12) + (1.0 - yd) * math.log(1.0 - p + 1e-12))
        (cs, r)
      }
      losses += sl / n
      rs.foreach { case (cs, r) => cs.foreach { case (b, c) => g(b) += c * r } }
      buckets.foreach { b => w(b) -= lr * (g(b) - mu(b) * sr) / (sd(b) * n) }
      bias -= lr * sr / n
    }
    LinearModel(buckets.map(b => b -> w(b)).toMap, bias, mu, sd, losses.toSeq)
  }

  /** C31c flagship path: hash-mod sample → bounded driver collect →
    * driver GD ([[logisticTrainDriver]]) → distributed full-corpus
    * scoring. The full-corpus count/label frames appear exactly once in
    * the returned scoring plan, so they stay lazy — one corpus scan at
    * materialization, nothing pinned. The `inv_classifier_distill_
    * accuracy` floor runs over the FULL corpus, so a sample too small
    * to generalize is a driver failure.
    */
  private def trained(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val dS = trainSample(d)
    val (docsS, labelsS) = collectSample(bucketCounts(dS), distillLabels(dS))
    val model = logisticTrainDriver(docsS, labelsS)
    predict(s, bucketCounts(d), distillLabels(d), model)
  }

  // ------------------------------------------------------- C47 softmax

  /** The language classes, fixed by the C9 rule's output alphabet;
    * index = position. A fixed alphabet (not a data-driven distinct)
    * keeps class indices stable across corpora and engines.
    */
  private[graft] val LangClasses: Seq[String] = Seq("de", "en", "es", "fr", "und")

  /** C47 teacher labels: (doc_id, y) with y = the C9 langid class
    * index — the SAME decision frame the `text_langid` gate checks
    * ([[Text.langidFrame]]), so teacher and gate cannot drift.
    */
  private[graft] def langidTeacher(d: DataFrame): DataFrame = {
    val idx = LangClasses.zipWithIndex
      .foldLeft(lit(-1L)) { case (acc, (l, i)) =>
        when(col("pred_lang") === l, lit(i.toLong)).otherwise(acc)
      }
    Text.langidFrame(d).select(col("doc_id"), idx.as("y"))
  }

  /** A trained softmax model: weights per (bucket, class). */
  final case class SoftmaxModel(
      weights: Map[(Long, Long), Double],
      biases: Map[Long, Double],
      mu: Map[Long, Double],
      sd: Map[Long, Double],
      losses: Seq[Double])

  /** Per-(doc, class) softmax residual frame under a params DataFrame
    * (bucket, cls, w, mu, sd) + per-class (cls, bias, k) adjustments:
    * raw_dc = Σ_{b∈doc} (w_bc/σ_b)·c_db + bias_c − K_c, softmax within
    * the doc via a doc-partitioned window (|classes| rows per doc —
    * bounded frames, never a global sort), r = a·(p − 1[y=c]) with the
    * doc's CLASS-BALANCE weight `a` (1.0 when the labels frame carries
    * none — the predict path), and the doc's loss a·(−log p_y) rides
    * its true-class row.
    */
  private def softmaxResiduals(cnts: DataFrame, labels: DataFrame,
      params: DataFrame, adj: DataFrame,
      viaBroadcast: Boolean = true): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id"))
    val wsd = params.select(col("bucket"), col("cls"),
      (col("w") / col("sd")).as("wsd"))
    // params appears EXACTLY ONCE in this plan — see logisticTrain's K
    // comment (a second reference compounds checkpoint origin-stats)
    val model = if (viaBroadcast) broadcast(wsd) else wsd.hint("shuffle_hash")
    cnts.join(model, Seq("bucket"))
      .groupBy(col("doc_id"), col("cls")).agg(sum(col("c") * col("wsd")).as("raw0"))
      .join(broadcast(adj), Seq("cls"))
      .select(col("doc_id"), col("cls"),
        (col("raw0") + col("bias") - col("k")).as("raw"))
      .select(col("doc_id"), col("cls"),
        exp(col("raw") - max(col("raw")).over(byDoc)).as("e"))
      .select(col("doc_id"), col("cls"),
        (col("e") / sum(col("e")).over(byDoc)).as("p"))
      .join(labels, Seq("doc_id"))
      .withColumn("a", if (labels.columns.contains("a")) col("a") else lit(1.0d))
      .select(col("doc_id"), col("cls"), col("y"), col("p"),
        (col("a") * (col("p")
          - when(col("cls") === col("y"), lit(1.0d)).otherwise(lit(0.0d)))).as("r"),
        when(col("cls") === col("y"), -col("a") * log(col("p") + lit(1e-12)))
          .otherwise(lit(0.0d)).as("loss"))
  }

  /** Full-batch softmax GD — [[logisticTrain]]'s loop generalized to
    * |classes| coupled weight vectors. Same distributed-params shape:
    * per iteration the driver sees |classes| K-constants, |classes|
    * residual sums, and one loss scalar; the (bucket × class) gradient
    * folds into the params table by join, never a driver round-trip.
    */
  def softmaxTrain(cnts0: DataFrame, labels: DataFrame, numClasses: Int,
      iters: Int = Iters, lr: Double = Lr): SoftmaxModel = {
    val s = cnts0.sparkSession
    import s.implicits._
    val n = labels.count().toDouble
    require(n > 0, "softmaxTrain: empty corpus")
    // same co-partitioning stance as logisticTrain: the (bucket x
    // class) weights table never transits the driver mid-training
    val cnts = cnts0.repartition(col("bucket")).localCheckpoint(true)
    // CLASS-BALANCED cross-entropy: weight each doc by
    // n / (|observed classes| · n_y) — inverse teacher-class frequency.
    // Unweighted full-batch GD collapses the minority class at scale
    // (the 'und' teacher class, whose signal is marker-word ABSENCE,
    // trained to 0.94-1.0 recall at sf0.001 but 0.07 at sf0.1 — caught
    // by inv_langid_distill_accuracy's recall floor); balancing makes
    // the minority gradient iteration-1-strong regardless of corpus
    // composition, so convergence does not degrade as the corpus
    // grows. Class counts are a |classes|-row collect.
    val clsCounts = labels.groupBy(col("y")).agg(count(lit(1)).as("ny")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aExpr = clsCounts.foldLeft(lit(1.0d)) { case (acc, (c, ny)) =>
      when(col("y") === c, lit(n / (clsCounts.size * ny.toDouble))).otherwise(acc)
    }
    val wLabels = labels.select(col("doc_id"), col("y"), aExpr.as("a"))
      .localCheckpoint(true)
    val clsDf = (0L until numClasses.toLong).toDF("cls")
    var params = momentParams(cnts, n)
      .crossJoin(broadcast(clsDf))
      .select(col("bucket"), col("cls"), lit(0.0d).as("w"), col("mu"), col("sd"))
      .localCheckpoint(true)
    var biases = (0L until numClasses.toLong).map(_ -> 0.0d).toMap
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to iters) {
      // per-class K constants: a |classes|-row driver collect (bounded;
      // deliberately NOT folded into the resid plan — the K comment in
      // logisticTrain)
      val ks = params.groupBy(col("cls"))
        .agg(sum(col("w") * col("mu") / col("sd")).as("k"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val adj = (0L until numClasses.toLong)
        .map(c => (c, biases(c), ks.getOrElse(c, 0.0d)))
        .toDF("cls", "bias", "k")
      val resid = softmaxResiduals(cnts, wLabels, params, adj,
          viaBroadcast = false)
        .localCheckpoint(true)
      try {
        val sums = resid.groupBy(col("cls"))
          .agg(sum(col("r")).as("sr"), sum(col("loss")).as("sl"))
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        val sr = sums.map(t => t._1 -> t._2).toMap
        losses += sums.map(_._3).sum / n
        val srDf = sums.map(t => (t._1, t._2)).toSeq.toDF("cls", "sr")
        val grad = cnts.join(resid.select(col("doc_id"), col("cls"), col("r")),
            Seq("doc_id"))
          .groupBy(col("bucket"), col("cls")).agg(sum(col("c") * col("r")).as("g"))
        val next = params.join(grad, Seq("bucket", "cls"), "left")
          .join(broadcast(srDf), Seq("cls"))
          .select(col("bucket"), col("cls"),
            (col("w") - lit(lr) * (coalesce(col("g"), lit(0.0d)) - col("mu") * col("sr"))
              / (col("sd") * n)).as("w"),
            col("mu"), col("sd"))
          .localCheckpoint(true) // eager: a lazy checkpoint + parent unpersist recomputes the chain
        params.unpersist()
        params = next
        biases = biases.map { case (c, b) => c -> (b - lr * sr.getOrElse(c, 0.0d) / n) }
      } finally resid.unpersist(blocking = false)
    }
    val rows = params.collect()
    params.unpersist()
    cnts.unpersist()
    wLabels.unpersist()
    SoftmaxModel(
      rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap,
      biases,
      rows.collect { case r if r.getLong(1) == 0L => r.getLong(0) -> r.getDouble(3) }.toMap,
      rows.collect { case r if r.getLong(1) == 0L => r.getLong(0) -> r.getDouble(4) }.toMap,
      losses.toSeq)
  }

  /** Score a corpus with a trained softmax model → (doc_id, label,
    * pred): pred = argmax_c p_dc, ties to the LOWEST class index
    * (deterministic, matching the dense replay).
    */
  def softmaxPredict(s: SparkSession, cnts: DataFrame, labels: DataFrame,
      m: SoftmaxModel): DataFrame = {
    val numClasses = m.biases.size
    val prows = m.weights.toSeq.map { case ((b, c), w) => (b, c, w, m.mu(b), m.sd(b)) }
    val pdf = s.createDataFrame(prows).toDF("bucket", "cls", "w", "mu", "sd")
    val ks = (0L until numClasses.toLong).map { c =>
      (c, m.biases(c),
        m.weights.iterator.collect { case ((b, cc), w) if cc == c =>
          w * m.mu(b) / m.sd(b) }.sum)
    }
    val adj = s.createDataFrame(ks).toDF("cls", "bias", "k")
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("p").desc, col("cls"))
    softmaxResiduals(cnts, labels, pdf, adj)
      .select(col("doc_id"), col("y"), col("cls"), col("p"),
        row_number().over(byDoc).as("rk"))
      .where(col("rk") === 1)
      .select(col("doc_id"), col("y").as("label"), col("cls").as("pred"))
  }

  /** Gate floor for the langid distillation (measured before arming:
    * acc 0.996 at sf0.001, 0.908 at sf0.01 with per-class recalls
    * 0.90-1.0; margin absorbs data regeneration).
    */
  private val LangAccFloorBp = 8000L
  /** The softmax loop needs more steps than the binary one: the
    * minority 'und' class (docs with NO marker words — the signal is
    * feature ABSENCE) collapses to majority predictions at
    * 20 iterations (recall 0.02-0.18, measured); 40 iterations at
    * lr 8 recover it to 0.94-1.0.
    */
  private val LangIters = 40
  private val LangLr = 8.0

  /** Driver-side class-balanced softmax GD over the collected bounded
    * sample — [[softmaxTrain]]'s arithmetic (balance weights from the
    * sample's teacher mix, per-doc max-subtracted softmax, identical
    * updates) as tight loops; the [[logisticTrainDriver]] rationale.
    */
  private[graft] def softmaxTrainDriver(
      docs: Array[(Long, Array[(Long, Double)])], labels: Array[(Long, Double)],
      numClasses: Int, iters: Int = Iters, lr: Double = Lr): SoftmaxModel = {
    val n = labels.length.toDouble
    require(n > 0, "softmaxTrainDriver: empty sample")
    val y = labels.toMap
    val buckets = docs.flatMap(_._2.map(_._1)).distinct.sorted
    val s1 = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    val s2 = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    docs.foreach(_._2.foreach { case (b, c) => s1(b) += c; s2(b) += c * c })
    val mu = buckets.map(b => b -> s1(b) / n).toMap
    val sd = buckets.map { b =>
      val m = s1(b) / n; val v = s2(b) / n - m * m
      b -> (if (v > 0) math.sqrt(v) else 1.0)
    }.toMap
    // class-balanced weights from the SAMPLE's teacher mix (the
    // softmaxTrain formula: a_d = n / (|observed classes| · n_y))
    val clsCounts = labels.groupBy(_._2.toLong).view.mapValues(_.length.toLong).toMap
    val a = labels.map { case (d, yd) =>
      d -> n / (clsCounts.size * clsCounts(yd.toLong).toDouble)
    }.toMap
    val cls = 0L until numClasses.toLong
    val w = scala.collection.mutable.Map.empty[(Long, Long), Double].withDefaultValue(0.0)
    val biases = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to iters) {
      val k = cls.map(c => c -> buckets.iterator.map(b => w((b, c)) * mu(b) / sd(b)).sum).toMap
      val sr = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      val g = scala.collection.mutable.Map.empty[(Long, Long), Double].withDefaultValue(0.0)
      var sl = 0.0
      docs.foreach { case (d, cs) =>
        val raw = cls.map { c =>
          cs.iterator.map { case (b, cc) => cc * w((b, c)) / sd(b) }.sum +
            biases(c) - k(c)
        }
        val mx = raw.max
        val es = raw.map(r => math.exp(r - mx))
        val tot = es.sum
        val yd = y(d).toLong
        val ad = a(d)
        cls.foreach { c =>
          val p = es(c.toInt) / tot
          val r = ad * (p - (if (c == yd) 1.0 else 0.0))
          sr(c) += r
          if (c == yd) sl += -ad * math.log(p + 1e-12)
          cs.foreach { case (b, cc) => g((b, c)) += cc * r }
        }
      }
      losses += sl / n
      cls.foreach { c =>
        buckets.foreach { b =>
          w((b, c)) -= lr * (g((b, c)) - mu(b) * sr(c)) / (sd(b) * n)
        }
        biases(c) -= lr * sr(c) / n
      }
    }
    SoftmaxModel(
      (for (b <- buckets; c <- cls) yield (b, c) -> w((b, c))).toMap,
      cls.map(c => c -> biases(c)).toMap, mu, sd, losses.toSeq)
  }

  /** C47 flagship path — [[trained]]'s sampled-training stance for the
    * softmax router: hash-mod sample → bounded driver collect → driver
    * GD → distributed full-corpus scoring through a lazy single-scan
    * plan. The per-class recall floor in `inv_langid_distill_accuracy`
    * runs over the FULL corpus, so a sample that under-represents a
    * teacher class fails the gate.
    */
  private def langTrained(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val dS = trainSample(d)
    val (docsS, labelsS) = collectSample(bucketCounts(dS), langidTeacher(dS))
    val model = softmaxTrainDriver(docsS, labelsS, LangClasses.size, LangIters, LangLr)
    softmaxPredict(s, bucketCounts(d), langidTeacher(d), model)
  }

  // ------------------------------------------------- C31d (r12): the
  // HASH-GATED trained model — the integer-determinism scheme extended
  // to TRAINING, the one pipeline family that had no integer twin.
  // Closed-form ridge regression over a small dense integer feature
  // frame, solved by EXACT CRAMER determinants: A = XᵀX + λI and
  // b = Xᵀy accumulate as plain integer sums (ONE map-side-combinable
  // corpus pass — the C40 moment discipline applied to a design
  // matrix), the d = 5 system solves DIVISION-FREE via det(A_j)
  // integers (BigInt driver-side ≡ 120-term permanent-style expansion
  // in DuckDB HUGEINT, generated from the SAME permutation list), and
  // the per-doc decision is the integer comparison
  // 2·Σⱼ xⱼ·det(Aⱼ) ≥ det(A) — Cramer's rule with the division never
  // performed (A is PD so det(A) > 0 and the inequality is exact).
  // Training set = `doc_id < 4000` (the C8n SQL-expressible-subset
  // trade); features are coarsened C10 statistics bounded ≤ 31 so
  // every determinant stays ≤ ~1e25 ≪ HUGEINT/DECIMAL(38,0) range.
  // Distillation accuracy vs the C10 teacher: 0.942 / 0.978 / 0.967
  // at sf0.01 / sf0.1 / sf1 (spec-floored at 0.90). 100 TB shape:
  // the honest distributed-ridge split — one slim aggregation pass,
  // d³ driver solve, map-only predict with 6 integer literals.

  private val RidgeDim = 5
  private val RidgeLambda = 1000L
  private val RidgeTrainIds = 4000L

  /** All 120 permutations of 0..4 with parity sign — the ONE list both
    * the BigInt determinant and the generated SQL expand from.
    */
  private val ridgePerms: Seq[(IndexedSeq[Int], Int)] =
    (0 until RidgeDim).permutations.map { p =>
      val inv = (for {
        i <- 0 until RidgeDim; j <- i + 1 until RidgeDim
        if p(i) > p(j)
      } yield 1).size
      (p, if (inv % 2 == 0) 1 else -1)
    }.toSeq

  /** (doc_id, x0..x4, y): bias 16, coarsened C10 statistics ≤ 31, and
    * the teacher label. Every column integer, every step `div`
    * (truncating ≡ DuckDB `//` on these non-negative values).
    */
  private[graft] def ridgeIntFeatures(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("n_chars"),
        size(words).as("nw"),
        size(array_distinct(words)).as("nd"),
        Curation.nStop(words).as("ns"))
      .select(col("doc_id"),
        lit(16L).as("x0"),
        expr("least(nw, 100) div 4").cast("long").as("x1"),
        expr("((least(ns * 10, nw) * 3000) div greatest(nw, 1)) div 100")
          .cast("long").as("x2"),
        expr("((nd * 3000) div greatest(nw, 1)) div 100").cast("long").as("x3"),
        expr("least(n_chars, 1984) div 64").cast("long").as("x4"),
        expr("""CASE WHEN least(nw, 100) * 40
                + (least(ns * 10, nw) * 3000) div greatest(nw, 1)
                + (nd * 3000) div greatest(nw, 1) >= 5000
              THEN 1 ELSE 0 END""").cast("long").as("y"))

  /** Exact integer Cramer solve from ONE distributed aggregation pass:
    * returns (det(A₀..A₄), det(A)) as BigInts.
    */
  private[graft] def ridgeIntDets(f: DataFrame): (Array[BigInt], BigInt) = {
    val tr = f.where(col("doc_id") < RidgeTrainIds)
    val aggs =
      (for { i <- 0 until RidgeDim; j <- i until RidgeDim }
        yield sum(col(s"x$i") * col(s"x$j")).as(s"a_${i}_$j")) ++
      (0 until RidgeDim).map(i => sum(col(s"x$i") * col("y")).as(s"b_$i"))
    val row = tr.agg(aggs.head, aggs.tail: _*).collect()(0)
    def g(n: String) = BigInt(row.getAs[Long](n))
    val a = Array.tabulate(RidgeDim, RidgeDim) { (i, j) =>
      val (lo, hi) = (math.min(i, j), math.max(i, j))
      g(s"a_${lo}_$hi") + (if (i == j) BigInt(RidgeLambda) else BigInt(0))
    }
    val b = Array.tabulate(RidgeDim)(i => g(s"b_$i"))
    def det(entry: (Int, Int) => BigInt): BigInt =
      ridgePerms.foldLeft(BigInt(0)) { case (acc, (p, sg)) =>
        acc + (0 until RidgeDim).foldLeft(BigInt(sg))((t, i) => t * entry(i, p(i)))
      }
    val detA = det((i, j) => a(i)(j))
    val detJ = Array.tabulate(RidgeDim)(cj =>
      det((i, k) => if (k == cj) b(i) else a(i)(k)))
    require(detA > 0, s"ridge A must be positive definite (det = $detA)")
    (detJ, detA)
  }

  /** C31d oracle: the same features, aggregation, 120-term determinant
    * expansions (HUGEINT), and division-free decision — generated from
    * [[ridgePerms]] so the two engines can never disagree on a sign.
    */
  private[graft] val ridgeIntSql: String = {
    def detExpr(entry: (Int, Int) => String): String =
      ridgePerms.map { case (p, sg) =>
        val prod = (0 until RidgeDim).map(i => entry(i, p(i))).mkString(" * ")
        (if (sg > 0) "+ " else "- ") + prod
      }.mkString(" ")
    def aName(i: Int, j: Int) = s"a_${math.min(i, j)}_${math.max(i, j)}"
    val matCols =
      (for { i <- 0 until RidgeDim; j <- i until RidgeDim } yield
        if (i == j)
          s"CAST(sum(x$i * x$j) + $RidgeLambda AS HUGEINT) AS a_${i}_$j"
        else s"CAST(sum(x$i * x$j) AS HUGEINT) AS a_${i}_$j") ++
      (0 until RidgeDim).map(i => s"CAST(sum(x$i * y) AS HUGEINT) AS b_$i")
    val detA = detExpr((i, j) => aName(i, j))
    val detJs = (0 until RidgeDim).map { cj =>
      s"(${detExpr((i, k) => if (k == cj) s"b_$i" else aName(i, k))}) AS det$cj"
    }
    val score = (0 until RidgeDim).map(j => s"f.x$j * d.det$j").mkString(" + ")
    s"""WITH c AS (
      |  SELECT doc_id, n_chars, len(${Curation.wordsSql}) AS nw,
      |    len(list_distinct(${Curation.wordsSql})) AS nd,
      |    ${Curation.nStopSql(Curation.wordsSql)} AS ns
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, 16 AS x0,
      |    least(nw, 100) // 4 AS x1,
      |    ((least(ns * 10, nw) * 3000) // greatest(nw, 1)) // 100 AS x2,
      |    ((nd * 3000) // greatest(nw, 1)) // 100 AS x3,
      |    least(n_chars, 1984) // 64 AS x4,
      |    CASE WHEN least(nw, 100) * 40
      |        + (least(ns * 10, nw) * 3000) // greatest(nw, 1)
      |        + (nd * 3000) // greatest(nw, 1) >= 5000
      |      THEN 1 ELSE 0 END AS y
      |  FROM c),
      |mat AS (SELECT ${matCols.mkString(",\n    ")}
      |        FROM f WHERE doc_id < $RidgeTrainIds),
      |dets AS (SELECT ($detA) AS detA, ${detJs.mkString(",\n    ")} FROM mat)
      |SELECT f.doc_id, f.y AS label,
      |  CASE WHEN 2 * ($score) >= d.detA THEN 1 ELSE 0 END AS pred
      |FROM f, dets d ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------- C47b (r12): the
  // HASH-GATED multi-class router — C31d's Cramer machinery on the C9
  // langid teacher. One-vs-rest ridge with the SHARED design matrix:
  // A = XᵀX + λI is class-independent, so ONE aggregation pass and ONE
  // det(A) serve all five classes (per-class cost = 5 more Cramer
  // numerators over the same A), and the decision is the
  // DIVISION-FREE integer argmax over Σⱼ xⱼ·det(Aⱼᶜ) — shared
  // positive denominator, first-max tie-break by class index, both
  // engines restating the same CASE ladder. Features: the four capped
  // marker-hit counts + a no-hits INDICATOR in the bias slot — the
  // first design used a plain bias and collapsed to the majority
  // class (0% und recall, the exact failure C47's anti-collapse
  // recall floor exists to catch); the indicator separates und
  // linearly and the router reaches 1.000 accuracy ×3 scales. The
  // corpus's teacher only EMITS en and und (the synthetic texts carry
  // English markers regardless of their lang column) — the per-class
  // spec floor applies to the classes the teacher actually produces,
  // the float C47 gate's own convention.

  private val LangidRouterClasses = 5

  /** (doc_id, x0..x4, y): x0 = 16·[no marker hits], x1..x4 = capped
    * per-language marker hits, y = the RAW-hit C9 teacher index
    * (de 0, en 1, es 2, fr 3, und 4 — LangClasses order).
    */
  private[graft] def langidRouterFeatures(d: DataFrame): DataFrame = {
    def rhit(lang: String): Column =
      size(filter(words, w => w.isin(Text.markerWords(lang): _*)))
    def chit(lang: String): Column = least(rhit(lang), lit(31)).cast("long")
    val noHits = rhit("en") === 0 && rhit("fr") === 0 &&
      rhit("de") === 0 && rhit("es") === 0
    d.select(col("doc_id"),
      when(noHits, lit(16L)).otherwise(lit(0L)).as("x0"),
      chit("en").as("x1"), chit("fr").as("x2"),
      chit("de").as("x3"), chit("es").as("x4"),
      when(noHits, lit(4L))
        .when(rhit("en") >= rhit("fr") && rhit("en") >= rhit("de") &&
          rhit("en") >= rhit("es"), lit(1L))
        .when(rhit("fr") >= rhit("de") && rhit("fr") >= rhit("es"), lit(3L))
        .when(rhit("de") >= rhit("es"), lit(0L))
        .otherwise(lit(2L)).as("y"))
  }

  /** Shared-A Cramer solve for all classes: (det(Aⱼᶜ) per class, det(A)). */
  private[graft] def langidRouterDets(f: DataFrame): (Array[Array[BigInt]], BigInt) = {
    val tr = f.where(col("doc_id") < RidgeTrainIds)
    val aggs =
      (for { i <- 0 until RidgeDim; j <- i until RidgeDim }
        yield sum(col(s"x$i") * col(s"x$j")).as(s"a_${i}_$j")) ++
      (for { c <- 0 until LangidRouterClasses; i <- 0 until RidgeDim }
        yield sum(col(s"x$i") * when(col("y") === c, 1L).otherwise(0L)).as(s"b_${c}_$i"))
    val row = tr.agg(aggs.head, aggs.tail: _*).collect()(0)
    def g(n: String) = BigInt(row.getAs[Long](n))
    val a = Array.tabulate(RidgeDim, RidgeDim) { (i, j) =>
      val (lo, hi) = (math.min(i, j), math.max(i, j))
      g(s"a_${lo}_$hi") + (if (i == j) BigInt(RidgeLambda) else BigInt(0))
    }
    def det(entry: (Int, Int) => BigInt): BigInt =
      ridgePerms.foldLeft(BigInt(0)) { case (acc, (p, sg)) =>
        acc + (0 until RidgeDim).foldLeft(BigInt(sg))((t, i) => t * entry(i, p(i)))
      }
    val detA = det((i, j) => a(i)(j))
    require(detA > 0, s"router A must be positive definite (det = $detA)")
    val detC = Array.tabulate(LangidRouterClasses) { c =>
      val b = Array.tabulate(RidgeDim)(i => g(s"b_${c}_$i"))
      Array.tabulate(RidgeDim)(cj => det((i, k) => if (k == cj) b(i) else a(i)(k)))
    }
    (detC, detA)
  }

  /** C47b oracle: shared mat CTE (15 A sums + 25 per-class b sums), 26
    * generated determinant expansions, first-max argmax CASE ladder.
    */
  private[graft] val langidRouterSql: String = {
    def detExpr(entry: (Int, Int) => String): String =
      ridgePerms.map { case (p, sg) =>
        val prod = (0 until RidgeDim).map(i => entry(i, p(i))).mkString(" * ")
        (if (sg > 0) "+ " else "- ") + prod
      }.mkString(" ")
    def aName(i: Int, j: Int) = s"a_${math.min(i, j)}_${math.max(i, j)}"
    def rhit(l: String): String = {
      val set = Text.markerWords(l).map(w => s"'$w'").mkString(",")
      s"len(list_filter(${Curation.wordsSql}, w -> w IN ($set)))"
    }
    def chit(l: String) = s"least(${rhit(l)}, 31)"
    val noHits = Seq("en", "fr", "de", "es").map(l => s"${rhit(l)} = 0").mkString(" AND ")
    val matCols =
      (for { i <- 0 until RidgeDim; j <- i until RidgeDim } yield
        if (i == j)
          s"CAST(sum(x$i * x$j) + $RidgeLambda AS HUGEINT) AS a_${i}_$j"
        else s"CAST(sum(x$i * x$j) AS HUGEINT) AS a_${i}_$j") ++
      (for { c <- 0 until LangidRouterClasses; i <- 0 until RidgeDim } yield
        s"CAST(sum(x$i * CASE WHEN y = $c THEN 1 ELSE 0 END) AS HUGEINT) AS b_${c}_$i")
    val detA = detExpr((i, j) => aName(i, j))
    val detCs = for { c <- 0 until LangidRouterClasses; cj <- 0 until RidgeDim }
      yield s"(${detExpr((i, k) => if (k == cj) s"b_${c}_$i" else aName(i, k))}) AS det_${c}_$cj"
    val scores = (0 until LangidRouterClasses).map { c =>
      (0 until RidgeDim).map(j => s"f.x$j * d.det_${c}_$j").mkString(" + ")
    }
    val maxS = s"greatest(${(0 until LangidRouterClasses).map(c => s"s$c").mkString(", ")})"
    val argmax = (0 until LangidRouterClasses)
      .map(c => s"WHEN s$c = m THEN $c").mkString("CASE ", " ", " END")
    s"""WITH f AS (
      |  SELECT doc_id,
      |    CASE WHEN $noHits THEN 16 ELSE 0 END AS x0,
      |    ${chit("en")} AS x1, ${chit("fr")} AS x2,
      |    ${chit("de")} AS x3, ${chit("es")} AS x4,
      |    CASE WHEN $noHits THEN 4
      |      WHEN ${rhit("en")} >= ${rhit("fr")} AND ${rhit("en")} >= ${rhit("de")}
      |        AND ${rhit("en")} >= ${rhit("es")} THEN 1
      |      WHEN ${rhit("fr")} >= ${rhit("de")} AND ${rhit("fr")} >= ${rhit("es")} THEN 3
      |      WHEN ${rhit("de")} >= ${rhit("es")} THEN 0
      |      ELSE 2 END AS y
      |  FROM documents),
      |mat AS (SELECT ${matCols.mkString(",\n    ")}
      |        FROM f WHERE doc_id < $RidgeTrainIds),
      |dets AS (SELECT ($detA) AS detA, ${detCs.mkString(",\n    ")} FROM mat),
      |scored AS (SELECT f.doc_id, f.y,
      |    ${scores.zipWithIndex.map { case (e, c) => s"($e) AS s$c" }.mkString(",\n    ")}
      |  FROM f, dets d),
      |am AS (SELECT *, $maxS AS m FROM scored)
      |SELECT doc_id, y AS label, $argmax AS pred
      |FROM am ORDER BY doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // C47b (r12): see the block comment at LangidRouterClasses — the
    // multi-class router's per-doc decisions under a FULL
    // rows+schema+hash gate.
    Q("text_langid_router_int", langidRouterSql) { (s, dir) =>
      val f = langidRouterFeatures(Tables(s, dir, "documents"))
      // det(A) is the shared POSITIVE denominator — it cancels in the
      // argmax, so only the numerator dets ride into the plan
      val (detC, _) = langidRouterDets(f)
      def decLit(v: BigInt) =
        lit(new java.math.BigDecimal(v.bigInteger)).cast("decimal(38,0)")
      val scores = (0 until LangidRouterClasses).map { c =>
        (0 until RidgeDim)
          .map(j => col(s"x$j").cast("decimal(38,0)") * decLit(detC(c)(j)))
          .reduce(_ + _)
      }
      val m = greatest(scores: _*)
      val pred = scores.zipWithIndex.tail
        .foldLeft(when(scores.head === m, lit(0L))) {
          case (acc, (sc, c)) => acc.when(sc === m, lit(c.toLong))
        }
      f.select(col("doc_id"), col("y").as("label"), pred.as("pred"))
        .orderBy(col("doc_id"))
    },

    // D35 (r12): C47b at INGEST — the trained router with FROZEN
    // Cramer numerators as documents land (train once on the corpus
    // snapshot, route the stream: THE deployment shape for a langid
    // router). Dets fit batch-side pre-start (the D34/D11 frozen-model
    // discipline), ride as 25 integer literals in a stateless per-row
    // projection — append mode, no state store, no join. Every
    // streamed value integer ⇒ gated by the SAME oracle as batch C47b:
    // full rows+schema+hash batch/stream parity.
    Q("text_langid_router_stream", langidRouterSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Append) {
        val (detC, _) = langidRouterDets(
          langidRouterFeatures(Tables(s, dir, "documents")))
        val stream = Events.streamOf(s, dir, "documents")
        def decLit(v: BigInt) =
          lit(new java.math.BigDecimal(v.bigInteger)).cast("decimal(38,0)")
        val f = langidRouterFeatures(stream)
        val scores = (0 until LangidRouterClasses).map { c =>
          (0 until RidgeDim)
            .map(j => col(s"x$j").cast("decimal(38,0)") * decLit(detC(c)(j)))
            .reduce(_ + _)
        }
        val m = greatest(scores: _*)
        val pred = scores.zipWithIndex.tail
          .foldLeft(when(scores.head === m, lit(0L))) {
            case (acc, (sc, c)) => acc.when(sc === m, lit(c.toLong))
          }
        f.select(col("doc_id"), col("y").as("label"), pred.as("pred"))
      }
        .orderBy(col("doc_id"))
    },

    // C31d (r12): see the block comment at ridgePerms — the trained
    // model's per-doc decisions under a FULL rows+schema+hash gate.
    Q("text_quality_regressor_int", ridgeIntSql) { (s, dir) =>
      val f = ridgeIntFeatures(Tables(s, dir, "documents"))
      val (detJ, detA) = ridgeIntDets(f)
      def decLit(v: BigInt) =
        lit(new java.math.BigDecimal(v.bigInteger)).cast("decimal(38,0)")
      val score2 = (0 until RidgeDim)
        .map(j => col(s"x$j").cast("decimal(38,0)") * decLit(detJ(j)))
        .reduce(_ + _) * lit(2).cast("decimal(38,0)")
      f.select(col("doc_id"), col("y").as("label"),
          when(score2 >= decLit(detA), lit(1L)).otherwise(lit(0L)).as("pred"))
        .orderBy(col("doc_id"))
    },

    // C31c: the trained model's per-doc decisions. Rows-only (float
    // GD); inv_classifier_distill_accuracy floors the training
    // accuracy, ClassifierTrainSpec pins dense-replay agreement.
    Q.noOracle("text_quality_classifier_train") { (s, dir) =>
      trained(s, dir).orderBy(col("doc_id"))
    },

    // The distillation must actually imitate its teacher: training
    // accuracy ≥ AccFloorBp (violations WHERE 1=0). A broken gradient,
    // a broken z-score fold, or a broken scoring join all land here.
    Q("inv_classifier_distill_accuracy",
      """SELECT CAST(NULL AS BIGINT) AS acc_bp FROM documents WHERE 1=0""") { (s, dir) =>
      trained(s, dir)
        .agg((sum(when(col("label") === col("pred"), 1L).otherwise(0L)) * 10000L).as("h"),
          count(lit(1)).as("n"))
        .select(expr("h div n").as("acc_bp"))
        .where(col("acc_bp") < AccFloorBp)
    },

    // C47: multi-class langid distillation — the per-language router.
    // Rows-only like C31c; inv_langid_distill_accuracy floors overall
    // accuracy AND per-class recall for every class the teacher
    // actually emits (a majority-class collapse passes an overall floor
    // but fails recall), ClassifierTrainSpec pins dense-replay weight
    // agreement for the softmax loop.
    Q.noOracle("text_langid_classifier_train") { (s, dir) =>
      langTrained(s, dir).orderBy(col("doc_id"))
    },

    Q("inv_langid_distill_accuracy",
      """SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS BIGINT) AS cls,
        |  CAST(NULL AS BIGINT) AS bp FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      val p = langTrained(s, dir).localCheckpoint(true)
      val overall = p
        .agg((sum(when(col("label") === col("pred"), 1L).otherwise(0L)) * 10000L).as("h"),
          count(lit(1)).as("n"))
        .select(lit("overall").as("kind"), lit(-1L).as("cls"),
          expr("h div n").as("bp"))
        .where(col("bp") < LangAccFloorBp)
      // per-class recall floor: classes with >= 20 teacher docs must
      // each be recovered at >= 50% — the anti-collapse witness
      val recall = p.groupBy(col("label"))
        .agg((sum(when(col("label") === col("pred"), 1L).otherwise(0L)) * 10000L).as("h"),
          count(lit(1)).as("n"))
        .where(col("n") >= 20 && expr("h div n") < 5000)
        .select(lit("recall").as("kind"), col("label").as("cls"),
          expr("h div n").as("bp"))
      Invariants.releasing(p)(overall.unionByName(recall).orderBy(col("kind"), col("cls")))
    })
}
