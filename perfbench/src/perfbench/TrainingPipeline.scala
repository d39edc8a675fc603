package perfbench

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.fs.{FeatureLookup, FeatureStore, TrainingSet}
import graft.ml.{Metrics, ScoringModel, Trainer}

/** The paper's central path: assemble a training set from primary-keyed
  * feature tables (three untimed lookups and one point-in-time lookup),
  * fit the seeded GBT on it, and batch-score the held-out keys through the
  * store. One repetition = builds + split/fits + scorings. */
final class TrainingPipeline(spark: SparkSession, data: String, work: String, seed: Long, rec: Recorder) {

  private val store = new FeatureStore(spark, s"$work/fs_train")
  private val lookups = Seq(
    FeatureLookup("part", Seq("p_brand", "p_retailprice"), "l_partkey", Some("p_partkey")),
    FeatureLookup("supplier", Seq("s_acctbal"), "l_suppkey", Some("s_suppkey")),
    FeatureLookup("orders", Seq("o_totalprice", "o_orderpriority"), "l_orderkey", Some("o_orderkey")),
    FeatureLookup("part_price", Seq("price"), "l_partkey", Some("p_partkey"),
      timestampLookupKey = Some("l_shipdate"), tableTimestampKey = Some("valid_from")))
  private val features = Seq("l_quantity", "p_brand", "p_retailprice", "s_acctbal",
    "o_totalprice", "o_orderpriority", "price", "purchased")
  private val splitKeys = Seq("l_orderkey", "l_linenumber")

  private def labels: DataFrame = Tables.lineitem(spark, data)
    .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity"), col("l_shipdate"), (col("l_returnflag") === "R").cast("int").as("purchased"))

  /** Seeded, time-versioned price per part: three versions whose
    * `valid_from` fall in disjoint ~2.5-year windows, so (p_partkey,
    * valid_from) is unique by construction. The first version starts
    * before the earliest ship date, so every label row gets a price. */
  private def partPrices: DataFrame = {
    val h = (v: Int, salt: Int) => pmod(xxhash64(col("p_partkey"), lit(v), lit(seed), lit(salt)), lit(1000L))
    (0 until 3).map { v =>
      Tables.part(spark, data).select(
        col("p_partkey"),
        date_add(lit(java.sql.Date.valueOf("1995-01-01")), (if (v == 0) lit(0) else (lit(v * 900) + h(v, 0) % 900).cast("int")))
          .cast("timestamp_ntz").as("valid_from"),
        round(col("p_retailprice") * (lit(0.8) + h(v, 1) / 2500.0), 2).as("price"))
    }.reduce(_ unionByName _)
  }

  private var expectedRows = 0L
  private var expectedHash: BigDecimal = 0
  private var testRows = 0L
  private var confusion: Option[Seq[(Double, Double, Long)]] = None

  /** Register the feature tables and compute the independent expected
    * training-set fingerprint. */
  def setup(): Unit = {
    Trace.span("fs.create_table") {
      store.createTable("part", Seq("p_partkey"), Tables.part(spark, data)
        .select("p_partkey", "p_brand", "p_type", "p_size", "p_retailprice"))
      store.createTable("supplier", Seq("s_suppkey"), Tables.supplier(spark, data)
        .select("s_suppkey", "s_nationkey", "s_acctbal"))
      store.createTable("orders", Seq("o_orderkey"), Tables.orders(spark, data)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"))
      store.createTable("part_price", Seq("p_partkey", "valid_from"), partPrices)
    }
    val (n, h) = TrainingPipeline.fingerprint(independentTrainingSet)
    expectedRows = n; expectedHash = h
  }

  /** The training set recomputed with plain DataFrame joins on the raw
    * tables: left joins for the untimed lookups, and a range join plus
    * max(valid_from) for the as-of price. */
  private def independentTrainingSet: DataFrame = {
    val l = labels
    val part = Tables.part(spark, data).select(col("p_partkey").as("l_partkey"), col("p_brand"), col("p_retailprice"))
    val supp = Tables.supplier(spark, data).select(col("s_suppkey").as("l_suppkey"), col("s_acctbal"))
    val ord = Tables.orders(spark, data).select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val prices = partPrices.select(col("p_partkey").as("l_partkey"), col("valid_from"), col("price"))
    val asOfKeys = l.select("l_partkey", "l_shipdate").distinct()
    val latest = asOfKeys.join(prices, asOfKeys("l_partkey") === prices("l_partkey") &&
        prices("valid_from") <= asOfKeys("l_shipdate"))
      .groupBy(asOfKeys("l_partkey"), asOfKeys("l_shipdate"))
      .agg(max(prices("valid_from")).as("valid_from"))
      .join(prices, Seq("l_partkey", "valid_from"))
      .select("l_partkey", "l_shipdate", "price")
    l.join(part, Seq("l_partkey"), "left").join(supp, Seq("l_suppkey"), "left")
      .join(ord, Seq("l_orderkey"), "left").join(latest, Seq("l_partkey", "l_shipdate"), "left")
  }

  private var lastBuild: Option[(DataFrame, DataFrame)] = None

  /** One repetition. Its first build of the training set is off the
    * clock, because the first call of each kind in a phase runs cold (up
    * to 1.5x the later ones, even after one in set-up); it is checked and
    * feeds both fits. Then fit, build, score, build, fit, build, score:
    * `trainset_s` is the median of the three timed builds, spread over the
    * phase so that their samples do not all fall in one short stretch of
    * the machine's speed. Both fits must give the same trees (so the seeded
    * fit's determinism is checked in every repetition), and both scorings,
    * in every repetition, the same confusion counts. */
  def repetition(): Unit = rec.op("training_pipeline") {
    lastBuild.foreach(_._2.unpersist())
    val (assembled, ts) = build()
    lastBuild = Some((assembled, ts))
    val (n, h) = TrainingPipeline.fingerprint(ts)
    rec.expect(n == expectedRows, s"training set has $n rows, labels have $expectedRows")
    rec.expect(h == expectedHash, s"training set hash $h != independent recomputation $expectedHash")
    val (_, test) = Trainer.stratifiedSplit(ts, "purchased", keyColumns = splitKeys)
    val heldOut = test.select(labels.columns.map(col): _*)
    if (testRows == 0L) testRows = heldOut.count()
    def timedBuild(): Unit = rec.timeMs("trainset_ms", "fs.trainset")(build())._2.unpersist()

    val model = fit(ts); timedBuild()
    val cm = score(model, heldOut); timedBuild()
    val again = fit(ts); timedBuild()
    val cmAgain = score(model, heldOut)

    val trees = Seq(model, again).map(TrainingPipeline.trees)
    rec.expect(trees.distinct.size == 1, s"two fits with seed 42 gave different trees (hashes ${trees.map(_.hashCode)})")
    rec.expect(cmAgain == cm, s"scoring the same keys twice gave confusion counts $cm and $cmAgain")
    confusion match {
      case None => confusion = Some(cm)
      case Some(first) => rec.expect(cm == first, s"confusion counts $cm differ from the first repetition's $first")
    }
  }

  /** Assembled through the store's lookups and materialised (as q109
    * does), so the fit reads the assembled set instead of re-running its
    * joins: lookup-join changes move trainset_s, not train_s. */
  private def build(): (DataFrame, DataFrame) = {
    val assembled = TrainingSet.fromStore(store, labels, lookups, labelColumn = Some("purchased")).loadDf
    (assembled, assembled.localCheckpoint(true))
  }

  /** Split the training set and fit the seeded GBT. */
  private def fit(ts: DataFrame): PipelineModel = rec.timeMs("train_ms", "ml.train") {
    val (train, _) = Trace.span("ml.split") {
      Trainer.stratifiedSplit(ts, "purchased", keyColumns = splitKeys)
    }
    Trace.span("ml.fit") {
      Trainer.fit(train.select(features.map(col): _*), "purchased",
        Trainer.TrainParams(maxIter = TrainingPipeline.GbtIterations, maxDepth = 6, seed = 42L))
    }
  }

  /** Batch-score the held-out keys through the store; returns the
    * confusion counts. */
  private def score(model: PipelineModel, heldOut: DataFrame): Seq[(Double, Double, Long)] = {
    val t0 = System.nanoTime()
    val cm = Trace.span("ml.score_batch") {
      Metrics.confusionMatrix(ScoringModel(model, lookups).scoreBatch(store, heldOut), "purchased")
        .collect().toSeq.map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    }
    rec.add("score_rows_per_s", testRows / ((System.nanoTime() - t0) / 1e9))
    rec.expect(cm.map(_._3).sum == testRows, s"scored ${cm.map(_._3).sum} of $testRows held-out rows")
    cm
  }

  /** After the measured loop, traced runs only: count the broadcast joins
    * of the last repetition's first build and run the as-of step alone,
    * through its public operator, so its cost shows as a layer of its own
    * without adding to the phase's totals. */
  def finish(): Unit = lastBuild.foreach { case (assembled, ts) =>
    if (Trace.enabled) {
      rec.add("fs.trainset.broadcast_joins", TrainingPipeline.broadcastJoins(assembled))
      Trace.span("ops.asof") {
        val feats = store.readTable(lookups.last.tableName)
          .select(col("p_partkey").as("l_partkey"), col("valid_from"), col("price"))
        graft.ops.AsOfJoin.asOf(labels, feats, Seq("l_partkey"), "l_shipdate", "valid_from", Seq("price"))
          .write.format("noop").mode("overwrite").save()
      }
    }
    ts.unpersist()
  }
}

object TrainingPipeline {
  /** q109 fits 20 trees; 2 keep a whole run (which fits twice) inside the
    * benchmark's time budget and still exercise the per-iteration job
    * ladder. */
  val GbtIterations = 2

  /** Row count and an order-insensitive content hash (sum of per-row
    * xxhash64 over the columns in name order, summed as a decimal so it
    * cannot overflow). */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols: Seq[Column] = df.columns.sorted.toSeq.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)))
  }

  /** The fitted GBT's trees and weights, without the model's random uid. */
  def trees(m: PipelineModel): String = m.stages.collect {
    case g: org.apache.spark.ml.classification.GBTClassificationModel =>
      g.toDebugString.linesIterator.drop(1).mkString("\n") + g.treeWeights.mkString(" weights ", ",", "")
  }.mkString

  def broadcastJoins(df: DataFrame): Double = {
    val walk = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    walk.collect(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.size.toDouble
  }
}
