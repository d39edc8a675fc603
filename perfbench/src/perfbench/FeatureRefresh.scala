package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.fs.{FeatureLookup, FeatureStore, TrainingSet}
import graft.ml.{ScoringModel, Trainer}

/** Keeps a customer feature table fresh while it is read online: a seeded
  * sequence of upserts, range deletes, compactions, change-feed replication
  * onto a replica and vacuums, each source write followed by point reads
  * and a burst of single-row scoring. A driver-side copy of the table is
  * the oracle for every read. */
final class FeatureRefresh(spark: SparkSession, data: String, work: String, seed: Long, rec: Recorder) {

  private val table = "customer_features"
  val storeRoot = s"$work/fs_refresh"
  private val store = new FeatureStore(spark, storeRoot)
  private val replica = new FeatureStore(spark, s"$work/fs_replica")
  private val rnd = new scala.util.Random(seed)
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val schema = StructType(Seq(StructField("c_custkey", LongType), StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType)))
  private val lookup = FeatureLookup(table, Seq("c_nationkey", "c_acctbal", "c_mktsegment"),
    "o_custkey", Some("c_custkey"))

  private type Features = (Int, Double, String)
  private val expected = mutable.HashMap.empty[Long, Features]
  private var nextKey = 0L
  private var model: ScoringModel = _
  private var stepNo = 0
  private var replicaBase: Option[Long] = None
  private var awaitingBase = true
  private var prices: Array[Double] = Array.empty

  private def features(r: Row): Features =
    (r.getAs[Int]("c_nationkey"), r.getAs[Double]("c_acctbal"), r.getAs[String]("c_mktsegment"))

  /** Create the table and its replica, and fit the small single-lookup
    * model that the online scoring uses. */
  def setup(): Unit = {
    val customers = Tables.customer(spark, data).select(schema.fieldNames.map(col): _*)
    Trace.span("fs.create_table") {
      store.createTable(table, Seq("c_custkey"), customers)
      replica.createTable(table, Seq("c_custkey"), customers)
    }
    customers.collect().foreach(r => expected(r.getLong(0)) = features(r))
    nextKey = expected.keys.max + 1
    val labels = Tables.orders(spark, data).select(col("o_custkey"), col("o_totalprice"),
      (col("o_orderpriority") === "1-URGENT").cast("int").as("urgent"))
    prices = labels.select("o_totalprice").limit(1000).collect().map(_.getDouble(0))
    val train = TrainingSet.fromStore(store, labels, Seq(lookup), Some("urgent")).loadDf.drop("o_custkey")
    model = ScoringModel(Trainer.fit(train, "urgent", Trainer.TrainParams(maxIter = 2, maxDepth = 3)), Seq(lookup))
    // Warm the online read paths (point index, pushdown scan, single-row
    // scoring): without this, their latency still falls by a fifth across
    // the measured loop as the JIT catches up, and the medians move with it.
    val keys = liveKeys
    store.lookupOne(table, keys.head)
    store.lookupOneScan(table, keys.head)
    (0 until FeatureRefresh.WarmupCalls).foreach { i =>
      val k = keys(rnd.nextInt(keys.size))
      model.scoreOne(store, Map("req" -> i, "o_custkey" -> k, "o_totalprice" -> prices(rnd.nextInt(prices.length))))
    }
  }

  private def liveKeys: IndexedSeq[Long] = expected.keysIterator.toIndexedSeq.sorted
  private def randomFeatures(): Features =
    (rnd.nextInt(25), math.round(rnd.nextDouble() * 1100000 - 100000) / 100.0, segments(rnd.nextInt(5)))

  private def drawKey(keys: IndexedSeq[Long]): Long = keys(rnd.nextInt(keys.size))

  /** One cycle of the mutation sequence: four source writes (two 1 %
    * upserts, one range delete, one compaction), then replication onto the
    * replica, then a vacuum — an order that keeps the replica's base
    * version inside retention. Keys and values are seeded; the operation
    * kinds are fixed so runs stay comparable. */
  def cycle(): Unit = (0 until 6).foreach { _ => step() }

  private def step(): Unit = {
    val slot = stepNo % 6
    stepNo += 1
    slot match {
      case 4 => rec.op("apply_changes") {
          val base = replicaBase.getOrElse(throw new IllegalStateException("no replica base version"))
          timedWrite("apply_changes")(replica.applyChanges(table, store.tableChanges(table, base)))
          awaitingBase = true
          checkTable(replica, "replica after applyChanges")
        }
      case 5 => rec.op("vacuum") {
          timedWrite("vacuum")(store.vacuum(table, retainLast = 1))
        }
      case _ =>
        val touched = slot match {
          case 2 => deleteRange()
          case 3 => compact()
          case _ => upsert()
        }
        if (awaitingBase) { replicaBase = store.versions(table).lastOption; awaitingBase = false }
        readAfterWrite(touched)
    }
  }

  /** Time one mutation call. Every kind feeds `write_ms`, and its own
    * `write_ms.<kind>` series, which the run's detail line reports. */
  private def timedWrite[T](kind: String)(f: => T): T = {
    val r = rec.timeMs("write_ms", "fs.write")(f)
    rec.add(s"write_ms.$kind", rec.samples("write_ms").last)
    r
  }

  private def upsert(): Seq[Long] = {
    val keys = liveKeys
    val n = math.max(1, keys.size / 100)
    val chosen = (0 until n).map(_ => if (rnd.nextDouble() < 0.8) drawKey(keys)
      else { nextKey += 1; nextKey - 1 }).distinct
    val rows = chosen.map(k => k -> randomFeatures())
    val df = spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, (n, b, s)) => Row(k, n, b, s) }: _*), schema)
    rec.op("upsert") {
      timedWrite("upsert")(store.upsert(table, df))
      rows.foreach { case (k, f) => expected(k) = f }
      rec.add("write_user_rows", rows.size)
    }
    chosen
  }

  private def deleteRange(): Seq[Long] = {
    val keys = liveKeys
    val lo = drawKey(keys)
    val hi = lo + math.max(1, keys.size / 200)
    rec.op("delete") {
      timedWrite("delete")(store.delete(table, col("c_custkey").between(lo, hi)))
      val gone = expected.keys.filter(k => k >= lo && k <= hi).toSeq
      gone.foreach(expected.remove)
      rec.add("write_user_rows", gone.size)
    }
    Seq(lo, hi)
  }

  private def compact(): Seq[Long] = {
    rec.op("compact")(timedWrite("compact")(store.compact(table)))
    Nil
  }

  private def checkRow(got: Option[Row], key: Long, what: String): Unit =
    rec.expect(got.map(features) == expected.get(key),
      s"$what($key) = ${got.map(features)}, expected ${expected.get(key)}")

  private def pickKey(touched: Seq[Long]): Long =
    if (touched.nonEmpty && rnd.nextBoolean()) touched(rnd.nextInt(touched.size))
    else rnd.nextLong(nextKey)

  /** The reads after one source write: the first point lookup (which
    * rebuilds the point index), one warm lookup, one pushdown scan and a
    * burst of single-row scoring checked against batch scoring. */
  private def readAfterWrite(touched: Seq[Long]): Unit = {
    val first = pickKey(touched)
    rec.op("lookup_one_first") {
      checkRow(rec.timeMs("read_after_write_ms", "fs.point_index.first_lookup")(store.lookupOne(table, first)),
        first, "lookupOne")
    }
    val warm = pickKey(touched)
    rec.op("lookup_one")(checkRow(Trace.span("fs.lookup_one")(store.lookupOne(table, warm)), warm, "lookupOne"))
    val sk = pickKey(touched)
    rec.op("lookup_one_scan") {
      checkRow(rec.timeMs("scan_read_ms", "fs.scan_read")(store.lookupOneScan(table, sk)), sk, "lookupOneScan")
    }
    val inputs = (0 until FeatureRefresh.ScoreBurst).map(i => (i, pickKey(touched), prices(rnd.nextInt(prices.length))))
    val online = inputs.map { case (i, k, p) =>
      var out: Option[Row] = None
      rec.op("score_one") {
        out = rec.timeMs("score_one_ms", "ml.score_one") {
          model.scoreOne(store, Map("req" -> i, "o_custkey" -> k, "o_totalprice" -> p))
        }
        rec.expect(out.isDefined, s"scoreOne($k) returned no row")
      }
      i -> out
    }.toMap
    val batchInput = spark.createDataFrame(java.util.Arrays.asList(inputs.map { case (i, k, p) => Row(i, k, p) }: _*),
      StructType(Seq(StructField("req", IntegerType), StructField("o_custkey", LongType),
        StructField("o_totalprice", DoubleType))))
    rec.op("score_one_vs_batch") {
      val batch = model.scoreBatch(store, batchInput).select("req", "prediction", "probability").collect()
        .map(r => r.getInt(0) -> (r.get(1), r.get(2))).toMap
      online.foreach { case (i, o) =>
        val got = o.map(r => (r.getAs[Any]("prediction"), r.getAs[Any]("probability")))
        rec.expect(got == batch.get(i), s"scoreOne ${inputs(i)} = $got, scoreBatch = ${batch.get(i)}")
      }
    }
  }

  private def checkTable(fs: FeatureStore, what: String): Unit = {
    val got = fs.readTable(table).collect().map(r => r.getAs[Long]("c_custkey") -> features(r)).toMap
    rec.expect(got.size == expected.size && got == expected.toMap,
      s"$what: ${got.size} rows, expected ${expected.size}; " +
        s"${(got.toSet diff expected.toSet).take(3)} vs ${(expected.toSet diff got.toSet).take(3)}")
  }

  /** Final-state check and the store's space amplification: everything
    * under the store root over the bytes of the files the current table
    * version reads, whatever directory layout the store keeps them in. */
  def finish(): Unit = {
    rec.op("final_table")(checkTable(store, "final table"))
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum else f.length()
    val live = store.readTable(table).inputFiles.map(f => bytes(new java.io.File(new java.net.URI(f)))).sum
    rec.add("store_bytes_per_live_byte", bytes(new java.io.File(storeRoot)).toDouble / live)
    rec.facts("live_table_bytes") = org.json4s.JLong(live)
    rec.facts("live_rows") = org.json4s.JLong(expected.size.toLong)
  }
}

object FeatureRefresh {
  /** scoreOne calls after each source write: 32 a cycle, enough for a
    * tail percentile with ten samples beyond it. */
  val ScoreBurst = 8

  /** Untimed scoreOne calls in setup. */
  val WarmupCalls = 24
}
