package graft.ml

import java.nio.file.Files

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.{FMClassifier, GBTClassifier, LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.feature.{OneHotEncoder, StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.eval.Metrics
import graft.queries.Churn

/** The reference's ML surface (SURVEY §2.11), Spark-first.
  *
  * M1 StringIndexer ×16 (handleInvalid="skip", RF/randomforest_churn.scala:243-248)
  * M2 OneHotEncoder dropLast=false (:250-253; `OneHotEncoderEstimator` renamed in Spark 3+)
  * M3 VectorAssembler 21 continuous + 16 one-hot (:255-257)
  * M4 RandomForestClassifier trees=100 depth=10 bins=100 (:259-264)
  * M5 XGBoostClassifier → GBTClassifier maxDepth=7 stepSize=0.1
  *    (GBDT/spark/churn_xgb4j_spark.scala:53-61; no xgboost4j jar exists here —
  *    same gradient-boosted-trees model class, Spark-internal impl)
  * M7 Pipeline fit / transform / save / load (:274-280, :30-31)
  * M8 LR (LR/model.py:65-119) → ml LogisticRegression
  * M9 FM (FM/fm_libsvm/fm_churn_libsvm.py:17-32) → ml FMClassifier(factorSize=8)
  * O3 randomSplit(0.8/0.2, seed) (:24; churn_xgb4j_spark.scala:20 seed=123)
  * E1-E3 via [[graft.eval.Metrics]].
  *
  * Scale notes: Pipeline.fit runs the 16 indexer fits sequentially, each a
  * countByValue aggregate over ONE cached pass of the wide table — we cache
  * the training split exactly like the reference (RF:235). Tree induction
  * is MLlib's distributed per-node split-stats aggregation; nothing here
  * collects the dataset to the driver.
  */
object ChurnML {

  /** Wide-table column groups — the reference's 21 continuous + 16
    * categorical split (RF/randomforest_churn.scala:236-241). */
  val continuousCols: Seq[String] = Seq(
    "shop_duration", "recent", "monetary", "max_amount", "save_amount",
    "items_count", "frequence", "shops_count", "avg_amount",
    "item_count_turn", "avg_piece_amount", "promote_percent", "week_percent",
    "wxapp_diff", "store_diff", "valid_points_sum", "member_day",
    "monetary3", "max_amount3", "items_count3", "frequence3")

  val categoricalCols: Seq[String] =
    Seq("shop_channel") ++ Churn.Groups.map(_._1) ++
      Seq("CHANNEL_NUM_ID", "VIP_TYPE_NUM_ID")

  /** The XGB path's column selection (GBDT/spark/churn_xgb4j_spark.scala:
    * 23-32) — deliberately NOT the RF path's 37: 20 continuous (drops
    * `save_amount`), 14 indexed strings, and `CHANNEL_NUM_ID` consumed
    * DIRECTLY as a numeric category index (no StringIndexer);
    * `VIP_TYPE_NUM_ID` dropped entirely. 20 + 15 = 35 assembler inputs.
    * Order preserved from the reference source. */
  val xgbContinuousCols: Seq[String] = Seq(
    "shop_duration", "recent", "monetary", "max_amount", "items_count",
    "valid_points_sum", "member_day", "frequence", "avg_amount",
    "item_count_turn", "avg_piece_amount", "monetary3", "max_amount3",
    "items_count3", "frequence3", "shops_count", "promote_percent",
    "wxapp_diff", "store_diff", "week_percent")

  val xgbStringCols: Seq[String] =
    Seq("shop_channel") ++ Churn.Groups.map(_._1)

  /** M1+M2+M3 front-end: indexers → one-hot → assembler.
    *
    * handleInvalid="skip" is the RF path (RF/randomforest_churn.scala:
    * 243-248, unseen rows dropped); "keep" is the XGB path
    * (GBDT/spark/churn_xgb4j_spark.scala:34-36, unseen label → extra
    * index numLabels). With "keep" the OneHotEncoder must also keep —
    * the indexer's extra index is out of the OHE's fitted range and
    * would otherwise throw at scoring time; keep gives it the extra
    * one-hot slot, matching the dictionary+1 layout.
    *
    * The 16 dictionaries are fit by ONE multi-column StringIndexer —
    * a single aggregation pass over the (cached) training split. The
    * reference chains 16 single-column indexers (RF:243-248), which
    * Pipeline.fit runs as 16 sequential full passes; per-column
    * dictionaries and indices are identical either way, but at
    * warehouse scale 16 scans of the fact-derived table vs one is the
    * difference that matters (measured ~2s/pass at sf0.1). */
  def featureStages(handleInvalid: String = "skip"): Array[PipelineStage] = {
    val indexers = Seq(
      new StringIndexer()
        .setInputCols(categoricalCols.toArray)
        .setOutputCols(categoricalCols.map(c => s"${c}_idx").toArray)
        .setHandleInvalid(handleInvalid)
        .setStringOrderType("frequencyDesc"))
    val onehot = new OneHotEncoder()
      .setInputCols(categoricalCols.map(c => s"${c}_idx").toArray)
      .setOutputCols(categoricalCols.map(c => s"${c}_vec").toArray)
      .setHandleInvalid(if (handleInvalid == "keep") "keep" else "error")
      .setDropLast(false)
    val assembler = new VectorAssembler()
      .setInputCols((continuousCols ++ categoricalCols.map(c => s"${c}_vec")).toArray)
      .setOutputCol("features")
    (indexers :+ onehot :+ assembler).toArray
  }

  /** The XGB path's front-end, byte-faithful to
    * churn_xgb4j_spark.scala:34-50: handleInvalid="keep" indexers over
    * the 14 string columns (unseen label → extra index numLabels, :35),
    * one-hot dropLast=false over CHANNEL_NUM_ID ++ the 14 index columns
    * (CHANNEL_NUM_ID straight into the encoder as a numeric category,
    * :39-45), assembler over the 35-column selection (:48-50). The OHE
    * also keeps (same rationale as [[featureStages]]: the indexer's
    * extra index is out of the fitted range otherwise). The 14
    * dictionaries come from ONE multi-column indexer pass, as in
    * [[featureStages]]. */
  def xgbFeatureStages(): Array[PipelineStage] = {
    val indexer = new StringIndexer()
      .setInputCols(xgbStringCols.toArray)
      .setOutputCols(xgbStringCols.map(c => s"${c}_idx").toArray)
      .setHandleInvalid("keep")
      .setStringOrderType("frequencyDesc")
    val catCols = Seq("CHANNEL_NUM_ID") ++ xgbStringCols.map(c => s"${c}_idx")
    val onehot = new OneHotEncoder()
      .setInputCols(catCols.toArray)
      .setOutputCols(catCols.map(c => s"${c}_vec").toArray)
      .setHandleInvalid("keep")
      .setDropLast(false)
    val assembler = new VectorAssembler()
      .setInputCols((xgbContinuousCols ++ catCols.map(c => s"${c}_vec")).toArray)
      .setOutputCol("features")
    Array(indexer, onehot, assembler)
  }

  /** M4: the reference's RF config (RF:259-264). cacheNodeIds caches
    * per-instance node assignments between tree levels instead of
    * re-traversing the partial tree per row per level — measured ~10%
    * on the deep-tree fits here; costs one int per instance of executor
    * memory (the standard setting for depth ≥ 5). */
  def rf(seed: Long = 42L): RandomForestClassifier =
    new RandomForestClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setNumTrees(100).setMaxDepth(10).setMaxBins(100).setSeed(seed)
      .setCacheNodeIds(true)

  /** M5: XGBoost stand-in (churn_xgb4j_spark.scala:53-61 — eta=0.1,
    * max_depth=7, num_round=200). maxIter is a parameter because 200
    * sequential boosting rounds is a cluster-sized budget; queries use a
    * bench-scale round count, tests a smaller one. */
  def gbt(maxIter: Int = 200, seed: Long = 42L): GBTClassifier =
    new GBTClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxDepth(7).setMaxIter(maxIter).setStepSize(0.1).setSeed(seed)
      .setCacheNodeIds(true) // see rf() note

  /** M8: LR (LR/model.py — lr=0.2, L2 optional). Trains on standardized
    * features (the reference trains on bounded one-hot bins). maxIter is
    * a parameter for the same budget-scaling reason as [[gbt]]. */
  def lr(maxIter: Int = 100): LogisticRegression =
    new LogisticRegression()
      .setLabelCol("label").setFeaturesCol("features_std")
      .setMaxIter(maxIter).setRegParam(0.0).setElasticNetParam(0.0)

  /** M9: FM with the reference's k=8 (fm_churn_libsvm.py:21). maxIter is
    * a parameter for the same budget-scaling reason as [[gbt]]. */
  def fm(maxIter: Int = 50, seed: Long = 42L): FMClassifier =
    new FMClassifier()
      .setLabelCol("label").setFeaturesCol("features_std")
      .setFactorSize(8).setStepSize(0.1).setMaxIter(maxIter).setSeed(seed)

  private def stdScaler: StandardScaler =
    new StandardScaler()
      .setInputCol("features").setOutputCol("features_std")
      .setWithMean(false).setWithStd(true)

  /** Full pipeline for one model family. LR/FM get a scaling stage
    * (gradient methods; tree models consume raw features like the
    * reference). */
  def pipeline(family: String, gbtIter: Int = 50, lrIter: Int = 100,
               fmIter: Int = 50): Pipeline = {
    val front = featureStages()
    val stages = family match {
      case "rf"      => front :+ rf()
      case "gbt"     => front :+ gbt(maxIter = gbtIter)
      // the XGB path: its own 35-column "keep" front-end + GBT back-end
      case "gbt_xgb" => xgbFeatureStages() :+ gbt(maxIter = gbtIter)
      case "lr"      => front :+ stdScaler :+ lr(maxIter = lrIter)
      case "fm"      => front :+ stdScaler :+ fm(maxIter = fmIter)
      case other => throw new IllegalArgumentException(s"unknown family $other")
    }
    new Pipeline().setStages(stages.toArray)
  }

  /** The labeled wide table (label cast to double), lazy. Every call
    * builds it from the sf tables; callers that read it more than once
    * materialize it for the duration of the call ([[trainEval]],
    * [[crossValidateOn]]), so the result is a function of the data
    * alone — nothing outlives the call. Hash-repartitioned on
    * USR_NUM_ID to volume-sized partitions (the partition-sizing note
    * in [[trainEval]]): seeded `randomSplit` sorts within partitions,
    * so a key-hash layout makes split membership — and every emitted
    * metric — independent of the join's shuffle layout (the same rule
    * as MLChurnSpec's planted table). */
  def wideFrame(spark: SparkSession, sfDir: String): DataFrame =
    Churn.wideTable(spark, sfDir)
      .withColumn("label", col("label").cast("double"))
      .repartition(math.max(2, spark.sparkContext.defaultParallelism / 4),
        col("USR_NUM_ID"))

  /** O3 + M7 + E1-E3 end-to-end: split the wide table 80/20 (seed 123 =
    * churn_xgb4j_spark.scala:20), fit, persist + reload the PipelineModel
    * (proving M7/K2 round-trip), score the held-out split with the
    * RELOADED model, and emit one metrics row. */
  def trainEval(spark: SparkSession, sfDir: String, family: String,
                gbtIter: Int = 50, lrIter: Int = 100,
                fmIter: Int = 50): DataFrame = {
    import spark.implicits._
    // Partition-sizing note: the wide table's final join leaves 32-way
    // shuffle partitioning, but the per-user result is ~1000× smaller
    // than the fact — iterative fitters (16 indexer passes, 50-200
    // boosting rounds) then pay scheduler overhead per tiny task, so
    // wideFrame repartitions to volume-sized partitions.
    // (At warehouse scale the same rule sizes partitions to the
    // AGGREGATED volume, not the input's.)
    // Materialized ONCE per call, lineage-free: test is scored lazily
    // after the fit, so an unmaterialized wide table would be rebuilt
    // from the fact scans for scoring; and a cache() would keep the
    // wide table's physical plan (its broadcast relations) reachable
    // through the whole fit (churn_train's post-GC heap peak: 196-209 MB
    // with cache(), 168 MB with this). Volume-sized — pennies of memory.
    val wide = wideFrame(spark, sfDir).localCheckpoint()
    val (aucV, rep, nTrain, nTest) = try {
      val Array(train, test) = wide.randomSplit(Array(0.8, 0.2), seed = 123L) // O3
      train.cache() // mirrors RF:235 — indexer fit + tree passes reuse it
      try {
        val nTrain = train.count() // materialize the cache; also the emitted count

        // Iterative fitters make 50-200 passes over the cached split, and
        // below ~50k rows/partition the per-task scheduler overhead of each
        // pass dominates the compute. Coalesce the FIT input to the
        // MATERIALIZED volume (measured at sf0.1: GBT 19.4→15.5 s for 20
        // rounds going 8→2 partitions); the rule scales partitions back up
        // linearly with data volume, capped by the cluster's parallelism.
        val fitParts = math.max(2L, math.min(
          spark.sparkContext.defaultParallelism.toLong, nTrain / 50000L)).toInt
        // coalesce can only SHRINK partition counts — growing (big nTrain,
        // few cached partitions) needs a real repartition or the rule is
        // silently inert above the cache's partition count.
        val fitInput =
          if (fitParts < train.rdd.getNumPartitions) train.coalesce(fitParts)
          else if (fitParts > train.rdd.getNumPartitions) train.repartition(fitParts)
          else train
        val model = pipeline(family, gbtIter, lrIter, fmIter).fit(fitInput)

        // M7/K2: persist + reload, then score with the reloaded model.
        val dir = graft.util.Scratch.dir(s"$family-model")
        model.write.overwrite().save(dir)
        val reloaded = PipelineModel.load(dir)

        val pred = reloaded.transform(test)
          .withColumn("prob1", Metrics.positiveProb(col("probability"))) // E3
          .cache()
        // finally-scoped unpersists (ADVICE r10): a failed fit/metric used
        // to skip the cleanup line and leave the cached frames pinned for
        // the session (Bench's per-pass isolation would reap them, but
        // Verify and library callers have no such sweeper).
        try (Metrics.auc(pred), Metrics.classificationReport(pred),
          nTrain, pred.count())                                      // E1, E2
        finally pred.unpersist()
      } finally train.unpersist()
    } finally wide.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }

    // config column: make the fitted hyperparameters part of the emitted
    // row so a bench reader can't mistake the budget-scaled GBT round
    // count for the reference's 200.
    val config = family match {
      case "rf"      => "numTrees=100 maxDepth=10 maxBins=100 (reference RF:259-264)"
      case "gbt"     => s"maxDepth=7 stepSize=0.1 maxIter=$gbtIter (reference num_round=200, budget-scaled; 200 validated at sf0.001 in MLChurnSpec)"
      case "gbt_xgb" => s"XGB-path 35-col keep front-end; maxDepth=7 stepSize=0.1 maxIter=$gbtIter (reference num_round=200, budget-scaled)"
      case "lr"      => s"maxIter=$lrIter regParam=0 std-scaled (reference maxIter=100, budget-scaled; 100 validated at sf0.001 in MLChurnSpec)"
      case "fm"      => s"factorSize=8 stepSize=0.1 maxIter=$fmIter std-scaled (reference maxIter=50, budget-scaled; 50 validated at sf0.001 in MLChurnSpec)"
      case other => other
    }
    Seq((family, config, aucV, rep("accuracy"), rep("precision"),
         rep("recall"), rep("f1"), nTrain, nTest))
      .toDF("family", "config", "auc", "accuracy", "precision", "recall",
            "f1", "n_train", "n_test")
  }

  /** k-fold cross-validation — the model-selection operator the
    * reference skips (it reports one 80/20 split; README's quality
    * band is single-split). Folds are HASH-assigned per user
    * (hash48(USR_NUM_ID) % k): deterministic under any partitioning,
    * leakage-safe at the entity level (a user is never in two folds),
    * and reproducible across engines/runs — Spark's own
    * CrossValidator uses randomSplit, whose fold membership depends
    * on the RNG stream. Scale shape: the wide table is built and
    * cached ONCE; each fold's fit/score is a cheap filter over the
    * cache (k fits, ONE wide-table build — a naive CV pays the
    * feature pipeline k+1 times). Budget-scaled lrIter (12 in the bench
    * entry) mirrors the ml_* bench policy; convergence at higher iter
    * counts is validated in MLChurnSpec (lrIter=30 planted floor). */
  def crossValidate(spark: SparkSession, sfDir: String, k: Int = 3,
                    lrIter: Int = 20): DataFrame =
    crossValidateOn(wideFrame(spark, sfDir), k, lrIter)

  /** CV core over an already-built wide frame (labeled, with
    * USR_NUM_ID) — split out so the planted-signal spec can feed its
    * own label. */
  def crossValidateOn(wide0: DataFrame, k: Int, lrIter: Int): DataFrame = {
    val spark = wide0.sparkSession
    import spark.implicits._
    val wide = wide0.withColumn("fold",
      pmod(graft.llm.TextOps.hash48(col("USR_NUM_ID").cast("string")),
        lit(k.toLong)))
    wide.cache(); wide.count()
    // the k fold fits are independent jobs over the SAME cached frame —
    // submit them from concurrent threads (the PQ sub-fit pattern,
    // Similarity.scala; CrossValidator's own `parallelism` knob does the
    // same) instead of serializing k× the fit wall. Each thread builds
    // its own pipeline instance, so fits share nothing but the cache;
    // per-fold metrics are deterministic and Future.sequence keeps the
    // emitted fold order.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // finally-scoped unpersists (ADVICE r10): a failed fold future used to
    // rethrow out of Await.result past the cleanup lines, leaving the
    // cached wide table (and the failed fold's pred) pinned for the
    // session.
    val rows =
      try Await.result(Future.sequence((0 until k).map { f =>
        Future {
          val train = wide.filter($"fold" =!= f)
          val model = pipeline("lr", lrIter = lrIter).fit(train)
          val pred = model.transform(wide.filter($"fold" === f))
            .withColumn("prob1", Metrics.positiveProb(col("probability")))
            .cache()
          try {
            val aucV = Metrics.auc(pred)
            (f.toLong, train.count(), pred.count(), aucV)
          } finally pred.unpersist()
        }
      }), Duration.Inf)
      finally wide.unpersist()
    rows.toDF("fold", "n_train", "n_test", "auc")
  }

  // ------------------------------------------------------------------
  // Declared operator queries
  // ------------------------------------------------------------------

  type Q = (SparkSession, String) => DataFrame

  /** M1 as an oracle-checkable query: the StringIndexer dictionary for
    * orders.o_orderpriority under frequencyDesc (ties alphabetical —
    * StringIndexer's documented tie-break). */
  private val m1: Q = (spark, dir) => {
    import spark.implicits._
    val df = graft.Tables.load(spark, dir, "orders").select($"o_orderpriority")
    val model = new StringIndexer()
      .setInputCol("o_orderpriority").setOutputCol("idx")
      .setStringOrderType("frequencyDesc")
      .fit(df)
    model.labelsArray(0).zipWithIndex.toSeq
      .toDF("value", "idx")
      .select($"value", $"idx".cast("long").as("idx"))
  }

  /** M1 handleInvalid="keep" variant — the XGB path's unseen-label
    * semantics (churn_xgb4j_spark.scala:34-36): fit the indexer on
    * orders WITHOUT '5-LOW', transform the full table; the unseen value
    * maps to the extra index numLabels (= dictionary + 1 slot). */
  private val m1Keep: Q = (spark, dir) => {
    import spark.implicits._
    val orders = graft.Tables.load(spark, dir, "orders")
    val model = new StringIndexer()
      .setInputCol("o_orderpriority").setOutputCol("idx")
      .setHandleInvalid("keep")
      .setStringOrderType("frequencyDesc")
      .fit(orders.filter($"o_orderpriority" =!= "5-LOW"))
    model.transform(orders)
      .select($"o_orderpriority".as("value"), $"idx".cast("long").as("idx"))
      .distinct()
  }

  /** M2: one-hot of the indexed value; with dropLast=false the hot
    * position equals the index and the vector size is the dictionary
    * size. Emitted as (value, idx, vec_size, hot_pos) — fully
    * SQL-checkable. */
  private val m2: Q = (spark, dir) => {
    import org.apache.spark.ml.functions.vector_to_array
    import spark.implicits._
    val df = graft.Tables.load(spark, dir, "orders").select($"o_orderpriority")
    val stages: Array[PipelineStage] = Array(
      new StringIndexer().setInputCol("o_orderpriority").setOutputCol("idx")
        .setStringOrderType("frequencyDesc"),
      new OneHotEncoder().setInputCols(Array("idx")).setOutputCols(Array("vec"))
        .setDropLast(false))
    new Pipeline().setStages(stages).fit(df).transform(df)
      .select($"o_orderpriority".as("value"),
        $"idx".cast("long").as("idx"),
        vector_to_array($"vec").as("arr"))
      .select($"value", $"idx", size($"arr").cast("long").as("vec_size"),
        (array_position($"arr", 1.0) - 1).as("hot_pos"))
      .distinct()
  }

  /** M3: VectorAssembler round-trip — assemble lineitem numerics into a
    * vector, then project the elements back out (proves ordering and
    * null-free assembly; doubles pass through bit-exactly). */
  private val m3: Q = (spark, dir) => {
    import org.apache.spark.ml.functions.vector_to_array
    import spark.implicits._
    val df = graft.Tables.load(spark, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice", $"l_discount")
    val assembled = new VectorAssembler()
      .setInputCols(Array("l_quantity", "l_extendedprice", "l_discount"))
      .setOutputCol("features")
      .transform(df)
    assembled.select($"l_orderkey", $"l_linenumber",
      vector_to_array($"features").as("arr"))
      .select($"l_orderkey", $"l_linenumber",
        $"arr".getItem(0).as("v_quantity"),
        $"arr".getItem(1).as("v_extendedprice"),
        $"arr".getItem(2).as("v_discount"))
  }

  /** O3 as its own declared entry: seeded randomSplit cardinalities
    * (deterministic under the fixed seed; no SQL oracle — Bernoulli
    * splitting is Spark-internal). */
  private val o3: Q = (spark, dir) => {
    import spark.implicits._
    val orders = graft.Tables.load(spark, dir, "orders")
    val Array(a, b) = orders.randomSplit(Array(0.8, 0.2), seed = 123L)
    Seq(("train", a.count()), ("test", b.count())).toDF("split", "rows")
  }

  val queries: Map[String, Q] = Map(
    "m1_string_indexer" -> m1,
    "m1_keep"           -> m1Keep,
    "m2_onehot"         -> m2,
    "m3_assembler"      -> m3,
    "o3_random_split"   -> o3,
    // Budget-scaled iteration counts (r8, VERDICT r7 Next #5): the ML
    // fits were 98 s of the 169 s bench while the reference's FULL
    // configs (gbt 200 rounds, lr 100, fm 50) stay exercised at sf0.001
    // in MLChurnSpec — so the bench entries document and pay a scaled
    // round count instead of double-billing convergence cost every
    // round. Each config column names both numbers.
    "ml_rf_churn"       -> ((s, d) => trainEval(s, d, "rf")),
    "ml_gbt_churn"      -> ((s, d) => trainEval(s, d, "gbt", gbtIter = 25)),
    // the front-end is the point here (boosting already benched by
    // ml_gbt_churn) — 20 rounds keeps the bench honest without
    // double-paying the iteration cost; config column says so.
    "ml_gbt_xgbpath"    -> ((s, d) => trainEval(s, d, "gbt_xgb", gbtIter = 20)),
    "ml_lr_churn"       -> ((s, d) => trainEval(s, d, "lr", lrIter = 30)),
    "ml_fm_churn"       -> ((s, d) => trainEval(s, d, "fm", fmIter = 10)),
    // hash-fold CV: deterministic folds, one wide-table build for k fits
    "ml_cv_lr"          -> ((s, d) => crossValidate(s, d, k = 3, lrIter = 12)))

  val oracles: Map[String, String] = Map(
    "m1_string_indexer" ->
      """SELECT o_orderpriority AS value,
        |       row_number() OVER (ORDER BY count(*) DESC, o_orderpriority) - 1 AS idx
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "m1_keep" ->
      """WITH d AS (
        |  SELECT o_orderpriority AS value,
        |         row_number() OVER (ORDER BY count(*) DESC, o_orderpriority) - 1 AS idx
        |  FROM orders WHERE o_orderpriority <> '5-LOW' GROUP BY o_orderpriority)
        |SELECT value, idx FROM d
        |UNION ALL
        |SELECT '5-LOW' AS value, (SELECT count(*) FROM d) AS idx""".stripMargin,
    "m2_onehot" ->
      """WITH d AS (
        |  SELECT o_orderpriority AS value,
        |         row_number() OVER (ORDER BY count(*) DESC, o_orderpriority) - 1 AS idx
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT value, idx, (SELECT count(*) FROM d) AS vec_size, idx AS hot_pos
        |FROM d""".stripMargin,
    "m3_assembler" ->
      """SELECT l_orderkey, l_linenumber,
        |       l_quantity AS v_quantity,
        |       l_extendedprice AS v_extendedprice,
        |       l_discount AS v_discount
        |FROM lineitem""".stripMargin)
}
