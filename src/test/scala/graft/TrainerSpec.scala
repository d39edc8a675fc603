package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.functions.col

import graft.fs.{FeatureLookup, FeatureStore, LookupHint, TrainingSet}
import graft.ingest.CsvIngest
import graft.ml.{Metrics, ScoringModel, Trainer}

/** End-to-end reference pipeline: create tables → training set → stratified
  * split → GBT train → metrics → batch scoring with automated lookups
  * (SURVEY.md §5 item 4). Iterations reduced from the reference's 100 to
  * keep the suite fast — the hyperparameter surface is covered by
  * TrainParams defaults. */
class TrainerSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  // Cache hygiene: leftover caches get substituted into later suites'
  // plans by the shared session's CacheManager.
  override def afterAll(): Unit = { trainingDf.unpersist(); super.afterAll() }

  private lazy val base = tempDir("graft_ml")
  private lazy val store = new FeatureStore(spark, base)

  private lazy val lookups = Seq(
    FeatureLookup("customer_features", Seq("total_purchase_7d", "total_purchase_30d"),
      "customer_id", hint = LookupHint.Broadcast),
    FeatureLookup("product_features", Seq("category"),
      "product_id", hint = LookupHint.Broadcast))

  private lazy val trainingDf = {
    store.createTable("customer_features", Seq("customer_id"),
      CsvIngest.readInferred(spark, refData("customer_features.csv")))
    store.createTable("product_features", Seq("product_id"),
      CsvIngest.readInferred(spark, refData("product_features.csv")))
    val labels = CsvIngest.readInferred(spark, refData("training_labels.csv"))
    TrainingSet.fromStore(store, labels, lookups,
      labelColumn = Some("purchased"),
      excludeColumns = Seq("customer_id", "product_id")).loadDf.cache()
  }

  private lazy val model =
    Trainer.fit(trainingDf, "purchased", Trainer.TrainParams(maxIter = 20))

  test("default hyperparameters mirror the reference (100/0.1/6/42)") {
    val p = Trainer.TrainParams()
    assert(p.maxIter == 100 && p.stepSize == 0.1 && p.maxDepth == 6 && p.seed == 42L)
  }

  test("categorical columns discovered from schema") {
    assert(Trainer.categoricalColumns(trainingDf, "purchased") == Seq("category"))
  }

  test("stratified split preserves proportions and partitions the data") {
    val (train, test) = Trainer.stratifiedSplit(trainingDf, "purchased")
    val total = trainingDf.count()
    assert(train.count() + test.count() == total)
    val trainFrac = train.count().toDouble / total
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train fraction $trainFrac outside [0.7,0.9]")
    // Stratification: positive rate similar in both splits.
    def posRate(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("purchased") === 1).count().toDouble / df.count()
    assert(math.abs(posRate(train) - posRate(test)) < 0.12)
  }

  test("GBT trains, scores, and yields sane metrics") {
    val scored = model.transform(trainingDf)
    assert(scored.columns.contains("prediction") && scored.columns.contains("probability"))
    val m = Metrics.evaluate(scored, "purchased")
    for (v <- Seq(m.accuracy, m.weightedPrecision, m.weightedRecall, m.weightedF1, m.areaUnderROC))
      assert(v >= 0.0 && v <= 1.0)
    assert(m.areaUnderROC > 0.5, s"AUC ${m.areaUnderROC} not better than random on train data")
  }

  test("confusion matrix covers the scored rows") {
    val cm = Metrics.confusionMatrix(model.transform(trainingDf), "purchased")
    assert(cm.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) == 500)
  }

  test("feature importances are named and sum to ~1") {
    val imps = Trainer.featureImportances(model)
    assert(imps.map(_._1).toSet ==
      Set("on_sales", "total_purchase_7d", "total_purchase_30d", "category__idx"))
    assert(math.abs(imps.map(_._2).sum - 1.0) < 1e-6)
  }

  test("scoreBatch enriches key-only inference rows and save/load round-trips") {
    val scoring = ScoringModel(model, lookups)
    val inference = CsvIngest.readInferred(spark, refData("inference_data.csv"))
    val scored = scoring.scoreBatch(store, inference)
    assert(scored.count() == 10)
    assert(scored.columns.contains("prediction"))

    val path = s"$base/saved_model"
    scoring.save(path)
    val loaded = ScoringModel.load(spark, path)
    // Lossless round-trip: hint and renames survive (tableKey is stored
    // resolved, so the Option is normalized to Some).
    assert(loaded.lookups == lookups.map(lk => lk.copy(tableKeyOpt = Some(lk.tableKey))))
    val rescored = loaded.scoreBatch(store, inference)
    assert(rescored.select("prediction").collect().toSeq ==
      scored.select("prediction").collect().toSeq)

    // Hostile metadata survives: renames, hints, quotes/commas in names,
    // point-in-time keys.
    val fancy = Seq(FeatureLookup("customer_features", Seq("total_purchase_7d"),
      "customer_id", Some("customer_id"), LookupHint.Broadcast,
      Map("total_purchase_7d" -> """p7d "quoted", comma"""),
      timestampLookupKey = Some("event_ts"), tableTimestampKey = Some("feature_ts")))
    ScoringModel(model, fancy).save(s"$base/saved_model_fancy")
    assert(ScoringModel.load(spark, s"$base/saved_model_fancy").lookups == fancy)
  }

  test("scoreOne matches scoreBatch for the same key (online-analog parity)") {
    val scoring = ScoringModel(model, lookups)
    val inference = CsvIngest.readInferred(spark, refData("inference_data.csv"))
    val batch = scoring.scoreBatch(store, inference).limit(3).collect()
    // scoreBatch's using-joins move each lookup key to the front; scoreOne
    // gets its input columns in that order, so whole rows are comparable.
    val inputCols = batch.head.schema.fieldNames.filter(inference.columns.contains)
    batch.foreach { b =>
      val input = ListMap(inputCols.toSeq.map(n => n -> b.get(b.fieldIndex(n))): _*)
      val one = scoring.scoreOne(store, input)
        .getOrElse(fail(s"scoreOne returned nothing for $input"))
      // Every key hits, so no NaN: plain Row equality covers features,
      // rawPrediction, probability and prediction.
      assert(one.schema == b.schema)
      assert(one == b, s"scoreOne $one != scoreBatch $b")
    }
  }

  test("scoreOne rejects null input values with a clear error") {
    // A null carries no runtime type; silently typing it as string would
    // build a mis-typed single-row frame that fails deep inside the
    // pipeline with a confusing cast error.
    val scoring = ScoringModel(model, lookups)
    val err = intercept[IllegalArgumentException] {
      scoring.scoreOne(store, Map("customer_id" -> 1, "product_id" -> null))
    }
    assert(err.getMessage.contains("non-null"), err.getMessage)
  }

  test("scoreOne refuses point-in-time lookups with a clear error") {
    val timed = lookups.map(_.copy(timestampLookupKey = Some("ts")))
    val err = intercept[IllegalArgumentException] {
      ScoringModel(model, timed).scoreOne(store, Map("customer_id" -> 1))
    }
    assert(err.getMessage.contains("scoreBatch"))
  }

  test("train-time metrics and params persist with the model (reference M5)") {
    val m = Metrics.evaluate(model.transform(trainingDf), "purchased")
    val p = Trainer.TrainParams(maxIter = 20)
    val path = s"$base/saved_model_metrics"
    ScoringModel(model, lookups, Some(m), Some(p)).save(path)
    val loaded = ScoringModel.load(spark, path)
    assert(loaded.metrics.contains(m)) // exact: doubles round-trip via JSON
    assert(loaded.params.contains(p))
  }

  test("load tolerates sidecars from earlier releases (missing keys/files)") {
    // Old lookups.json carried only tableName/featureNames/lookupKey and no
    // metrics.json; both must load with defaults, not throw.
    val path = s"$base/saved_model_legacy"
    ScoringModel(model, lookups).save(path)
    val legacyJson =
      """[{"tableName":"customer_features",
        |  "featureNames":["total_purchase_7d","total_purchase_30d"],
        |  "lookupKey":"customer_id"}]""".stripMargin
    // Drop the Hadoop-written checksum sidecar before the raw overwrite,
    // else the local FS flags a checksum mismatch on read.
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$path/.lookups.json.crc"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/lookups.json"),
      legacyJson.getBytes("UTF-8"))
    val loaded = ScoringModel.load(spark, path)
    assert(loaded.lookups == Seq(FeatureLookup("customer_features",
      Seq("total_purchase_7d", "total_purchase_30d"), "customer_id")))
    assert(loaded.metrics.isEmpty && loaded.params.isEmpty)
  }

  test("split key columns control the unit of assignment (duplicate skew guard)") {
    import spark.implicits._
    // 1000 distinct rows + one row duplicated 500 times.
    val dominated = ((1 to 1000).map(i => (i, i % 2)) ++ Seq.fill(500)((5000, 1)))
      .toDF("id", "purchased")
    // Keyed by the unique id: every copy of the dominant row co-travels by
    // CHOICE of key, but distinct ids split independently -> achieved
    // fraction on the distinct ids stays near 0.8.
    val (trainK, _) = Trainer.stratifiedSplit(dominated, "purchased", keyColumns = Seq("id"))
    val distinctFrac = trainK.select("id").distinct().count().toDouble / 1001
    assert(distinctFrac > 0.75 && distinctFrac < 0.85, s"keyed split fraction $distinctFrac")

    // Full-row hashing (default): all 500 copies land on one side together.
    val (trainAll, testAll) = Trainer.stratifiedSplit(dominated, "purchased")
    val copies = Seq(trainAll, testAll)
      .map(_.filter($"id" === 5000).count())
    assert(copies.contains(500L) && copies.contains(0L), s"copies split as $copies")
  }
}
