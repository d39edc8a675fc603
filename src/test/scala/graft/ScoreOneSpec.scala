package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{SQLTransformer, StringIndexerModel}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.fs.{FeatureLookup, FeatureStore, TrainingSet}
import graft.ml.{ScoringModel, Trainer}

/** `scoreOne` (driver-side pipeline evaluation) against `scoreBatch` (the
  * Spark plan) on the same inputs: the whole row must agree — values,
  * feature vector, rawPrediction, probability, schema and column order.
  * Store and labels are built in memory, so the suite needs no fixture
  * files. */
class ScoreOneSpec extends SparkSpec {
  import spark.implicits._

  private lazy val store = {
    val s = new FeatureStore(spark, tempDir("graft_score_one"))
    val segments = Seq("retail", "smb", "enterprise")
    // Customer 41's segment never occurs among the labelled customers (an
    // unseen label); customer 42 has null features in a hit row.
    val customers = (1 to 40).map(i =>
      (i.toLong, Option(segments(i % 3)), Option(i * 1.5), i % 7, i % 5 == 0)) ++
      Seq((41L, Option("government"), Option(3.0), 2, true), (42L, None, None, 0, false))
    s.createTable("customer_features", Seq("customer_id"),
      customers.toDF("customer_id", "segment", "spend", "visits", "vip"))
    s.createTable("product_features", Seq("product_id"),
      (1 to 10).map(i => (i, Seq("a", "b", "c")(i % 3), 10.0 + i)).toDF("product_id", "category", "price"))
    s
  }

  private lazy val labels = (0 until 200).map { n =>
    val channel = Seq("web", "store", "phone")(n % 3)
    val customer = 1 + n % 40
    val purchased = if ((customer > 20 && channel == "web") || n % 7 == 0) 1 else 0
    (customer.toLong, 1 + n % 10, (n * 37 % 100).toDouble, channel, purchased)
  }.toDF("customer_id", "product_id", "amount", "channel", "purchased")

  private val customerLookup =
    FeatureLookup("customer_features", Seq("segment", "spend", "visits", "vip"), "customer_id")
  private val params = Trainer.TrainParams(maxIter = 3, maxDepth = 3)

  private def trainingSet(lookups: Seq[FeatureLookup], labelCols: Seq[String]): DataFrame =
    TrainingSet.fromStore(store, labels.select(labelCols.head, labelCols.tail: _*), lookups,
      Some("purchased")).loadDf

  /** One lookup; `channel` is a categorical passthrough from the input. */
  private lazy val single = {
    val train = trainingSet(Seq(customerLookup), Seq("customer_id", "amount", "channel", "purchased"))
    ScoringModel(Trainer.fit(train, "purchased", params), Seq(customerLookup))
  }

  /** Two lookups, one feature renamed. */
  private lazy val twoLookups = {
    val lookups = Seq(
      customerLookup.copy(featureNames = Seq("segment", "spend"), renames = Map("spend" -> "cust_spend")),
      FeatureLookup("product_features", Seq("category", "price"), "product_id"))
    val train = trainingSet(lookups, Seq("customer_id", "product_id", "amount", "purchased"))
    ScoringModel(Trainer.fit(train, "purchased", params), lookups)
  }

  /** Inputs of `single`, in scoreBatch's column order (its using-join puts
    * the lookup key first): hits, zeros (sparse vectors), an unseen input
    * label, an unseen table label, null features and a missing key. */
  private val singleInputs: Seq[ListMap[String, Any]] = Seq(
    (5L, 12.5, "web"), (21L, 0.0, "phone"), (23L, 64.0, "store"), (12L, 3.0, "fax"),
    (41L, 8.0, "web"), (42L, 50.0, "store"), (999L, 20.0, "web")
  ).zipWithIndex.map { case ((c, a, ch), i) =>
    ListMap("customer_id" -> c, "req" -> i, "amount" -> a, "channel" -> ch) }

  private def frame(inputs: Seq[ListMap[String, Any]]): DataFrame = {
    val schema = StructType(inputs.head.toSeq.map { case (k, v) =>
      StructField(k, v match {
        case _: Int => IntegerType
        case _: Long => LongType
        case _: Byte => ByteType
        case _: Double => DoubleType
        case _: String => StringType
        case _: java.sql.Timestamp => TimestampType
        case _: BigDecimal => DecimalType(38, 18)
      }, nullable = true) })
    spark.createDataFrame(inputs.map(m => Row.fromSeq(m.values.toSeq)).asJava, schema)
  }

  /** scoreOne next to the scoreBatch row with the same `req`. */
  private def scoredPairs(scoring: ScoringModel, inputs: Seq[ListMap[String, Any]]): Seq[(Row, Row)] = {
    val batch = scoring.scoreBatch(store, frame(inputs)).collect()
      .map(r => r.get(r.fieldIndex("req")) -> r).toMap
    inputs.map { in =>
      val one = scoring.scoreOne(store, in).getOrElse(fail(s"scoreOne returned nothing for $in"))
      one -> batch(in("req"))
    }
  }

  /** Schema (names, order, types, nullability, ML metadata) and every value
    * equal. Vectors compare by representation and bit pattern, because
    * `Vector.equals` holds NaN unequal to itself. */
  private def assertSameRow(one: Row, batch: Row): Unit = {
    assert(one.schema == batch.schema)
    one.schema.fieldNames.indices.foreach { i =>
      (one.get(i), batch.get(i)) match {
        case (a: Vector, b: Vector) =>
          assert(a.getClass == b.getClass && java.util.Arrays.equals(a.toArray, b.toArray),
            s"${one.schema(i).name}: $a vs $b")
        case (a, b) => assert(Row(a) == Row(b), s"${one.schema(i).name}: $a vs $b")
      }
    }
  }

  private def field[T](r: Row, name: String): T = r.getAs[T](name)

  test("scoreOne equals the scoreBatch row: hits, unseen labels, null features, missing key") {
    val pairs = scoredPairs(single, singleInputs)
    pairs.foreach { case (one, batch) => assertSameRow(one, batch) }
    val byReq = pairs.map(_._1).map(r => field[Int](r, "req") -> r).toMap
    // Unseen labels take the keep index (labels.length).
    assert(field[Double](byReq(3), "channel__idx") == 3.0)
    assert(field[Double](byReq(4), "segment__idx") == 3.0)
    // A missing key (and a hit row with null features) gives null features
    // and NaN in the vector.
    for (req <- Seq(5, 6)) {
      val r = byReq(req)
      assert(r.isNullAt(r.fieldIndex("segment")) && r.isNullAt(r.fieldIndex("spend")))
      assert(field[Vector](r, "features").toArray.exists(_.isNaN))
    }
    assert(byReq(6).isNullAt(byReq(6).fieldIndex("vip")))
    // Both vector forms occur, so `.compressed` is exercised both ways.
    assert(pairs.map(p => field[Vector](p._1, "features").getClass).distinct.size == 2)
  }

  test("scoreOne equals scoreBatch with two lookups and a renamed feature") {
    // The second lookup's using-join moves product_id in front of customer_id.
    val inputs = Seq((3, 5L, 10.0), (7, 23L, 0.0), (11, 12L, 40.0), (2, 999L, 5.0)).zipWithIndex.map {
      case ((p, c, a), i) => ListMap("product_id" -> p, "customer_id" -> c, "req" -> i, "amount" -> a)
    }
    val pairs = scoredPairs(twoLookups, inputs)
    pairs.foreach { case (one, batch) => assertSameRow(one, batch) }
    val first = pairs.head._1
    assert(first.schema.fieldNames.contains("cust_spend") && !first.schema.fieldNames.contains("spend"))
    assert(field[Double](first, "cust_spend") == 7.5)
  }

  test("an Int key hits a bigint primary key; Byte, timestamp and decimal inputs come back as transform returns them") {
    val ts = java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456789")
    val inputs = Seq((5, 12.5, "web"), (23, 64.0, "phone")).zipWithIndex.map { case ((c, a, ch), i) =>
      ListMap[String, Any]("customer_id" -> c, "req" -> i.toByte, "amount" -> a, "channel" -> ch,
        "seen_at" -> ts, "list_price" -> BigDecimal("1.5")) }
    val pairs = scoredPairs(single, inputs)
    pairs.foreach { case (one, batch) => assertSameRow(one, batch) }
    val one = pairs.head._1
    assert(one.schema("customer_id").dataType == IntegerType && one.schema("req").dataType == ByteType)
    assert(field[Double](one, "spend") == 7.5)
    // The frame round trip: timestamps keep microseconds, decimals take the field's scale.
    assert(field[java.sql.Timestamp](one, "seen_at").getNanos == 123456000)
    assert(field[java.math.BigDecimal](one, "list_price").scale == 18)
  }

  test("8 threads scoring one model concurrently get the sequential rows") {
    val expected = singleInputs.map(in => single.scoreOne(store, in).get)
    val shared = single.copy() // a fresh instance: its evaluator is built under contention
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map(_ => pool.submit(new Callable[Seq[Row]] {
        def call(): Seq[Row] = {
          start.await()
          (0 until 20).flatMap(_ => singleInputs.map(in => shared.scoreOne(store, in).get))
        }
      }))
      start.countDown()
      futures.foreach { f =>
        val rows = f.get(120, TimeUnit.SECONDS)
        rows.grouped(singleInputs.size).foreach(_.zip(expected).foreach { case (a, b) => assertSameRow(a, b) })
      }
    } finally pool.shutdownNow()
  }

  test("scoreOne names a stage it cannot evaluate; scoreBatch still scores that pipeline") {
    val train = trainingSet(Seq(customerLookup), Seq("customer_id", "amount", "channel", "purchased"))
    val extra = new SQLTransformer().setStatement("SELECT *, prediction * 2 AS doubled FROM __THIS__")
    val stages = Trainer.pipeline(train, "purchased", params).getStages :+ extra
    val scoring = ScoringModel(new Pipeline().setStages(stages).fit(train), Seq(customerLookup))
    val err = intercept[IllegalArgumentException](scoring.scoreOne(store, singleInputs.head))
    assert(err.getMessage.contains("SQLTransformer") && err.getMessage.contains("scoreBatch"), err.getMessage)
    val scored = scoring.scoreBatch(store, frame(singleInputs)).collect()
    assert(scored.length == singleInputs.size && scored.head.schema.fieldNames.contains("doubled"))
  }

  test("scoreOne names a stage whose handleInvalid it does not evaluate") {
    val model: PipelineModel = single.model
    val indexer = model.stages.collectFirst { case m: StringIndexerModel => m }.get
    val strict = model.copy(ParamMap(indexer.handleInvalid -> "error"))
    val err = intercept[IllegalArgumentException](
      ScoringModel(strict, Seq(customerLookup)).scoreOne(store, singleInputs.head))
    assert(err.getMessage.contains(indexer.uid) && err.getMessage.contains("\"error\""), err.getMessage)
  }

  test("scoreOne refuses input values of an unsupported class, naming the key") {
    for ((key, value, cls) <- Seq(("session", java.util.UUID.randomUUID(), "java.util.UUID"),
        ("tags", Seq("a", "b"), "scala.collection.immutable"))) {
      val err = intercept[IllegalArgumentException](
        single.scoreOne(store, singleInputs.head + (key -> value)))
      assert(err.getMessage.contains(s"'$key'") && err.getMessage.contains(cls), err.getMessage)
    }
  }
}
