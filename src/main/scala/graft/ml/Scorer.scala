package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}
import org.json4s.{DefaultFormats, Extraction, Formats, JArray, JNothing, JObject, JValue}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import graft.fs.{FeatureLookup, FeatureResolver, LookupHint, TrainingSet}
import graft.ml.Metrics.ClassificationMetrics
import graft.ml.Trainer.TrainParams

/** Batch scoring with automated feature enrichment — the reference's
  * `score_batch` semantics (implied by fs.log_model packaging the training
  * set's lookups with the model, notebooks/02_model_training.py:478-484;
  * README.md:100 "Automated Feature Joins"): inference rows carrying only
  * keys are enriched by replaying the model's FeatureLookups, then scored.
  *
  * Persistence (reference M5, MLflow registry): `save` writes the
  * PipelineModel plus a sidecar JSON of its lookups AND a metrics/params
  * sidecar (the reference logs metrics, params and artifacts next to the
  * registered model, notebooks/02_model_training.py:446-467), so a user
  * reloading a model sees what it scored at train time — registry semantics
  * without MLflow.
  */
final case class ScoringModel(
    model: PipelineModel,
    lookups: Seq[FeatureLookup],
    metrics: Option[ClassificationMetrics] = None,
    params: Option[TrainParams] = None) {

  /** Enrich + score: fold of left lookup joins, then model.transform —
    * one distributed plan, no driver boundary (contrast the reference's
    * toPandas at 02_model_training.py:250). */
  def scoreBatch(store: FeatureResolver, input: DataFrame): DataFrame = {
    val enriched = TrainingSet.fromStore(store, input, lookups).loadDf
    model.transform(enriched)
  }

  /** Single-key scoring — the batch engine's analog of the reference's
    * online inference (model served against the low-latency store,
    * reference README.md:110-116). Features come from the store's
    * broadcast point index ([[graft.fs.FeatureResolver.lookupOne]]) — an
    * in-memory hash probe after warm-up, no per-call table scan. Missing
    * keys contribute nulls, exactly scoreBatch's left-join semantics.
    *
    * The model then runs on the driver, compiled once per model
    * ([[LocalPipeline]]): a call costs one point-index probe per lookup plus
    * driver-side index lookups, vector assembly and tree evaluation —
    * tens of microseconds warm, no Spark plan and no job. The row equals
    * what `model.transform` returns for the same one-row frame, schema and
    * column order included. Accepted stages are the ones [[Trainer.pipeline]]
    * emits: `StringIndexerModel` and `VectorAssembler` (both with
    * `handleInvalid = "keep"`) and `GBTClassificationModel`; any other stage
    * fails with an [[IllegalArgumentException]] naming it, and such a
    * pipeline scores through [[scoreBatch]].
    *
    * Deviation, by design: the reference's <10 ms figure is a managed KV
    * service + model server; this is the in-scope in-process analog, not a
    * serving replacement. Point-in-time lookups need the full as-of
    * machinery — use [[scoreBatch]] for those. */
  def scoreOne(store: FeatureResolver, input: Map[String, Any]): Option[Row] = {
    require(lookups.forall(_.timestampLookupKey.isEmpty),
      "scoreOne supports untimed lookups only — point-in-time enrichment needs scoreBatch")
    val inputSeq = input.toSeq
    val inputFields = inputSeq.map { case (k, v) =>
      StructField(k, ScoringModel.typeOf(k, v), nullable = true) }
    val featParts = lookups.map { lk =>
      val keyValue = input.getOrElse(lk.lookupKey,
        sys.error(s"scoreOne: input is missing lookup key '${lk.lookupKey}'"))
      val tableSchema = store.getTable(lk.tableName).schema
      val rowOpt = store.lookupOne(lk.tableName, keyValue)
      val fields = lk.featureNames.map { f =>
        StructField(lk.renames.getOrElse(f, f), tableSchema(f).dataType, nullable = true) }
      val values = lk.featureNames.map { f =>
        rowOpt.map(r => r.get(r.fieldIndex(f))).orNull }
      (fields, values)
    }
    val schema = StructType(inputFields ++ featParts.flatMap(_._1))
    Some(local.score(schema, inputSeq.map(_._2) ++ featParts.flatMap(_._2)))
  }

  @transient private lazy val local = new LocalPipeline(model)

  /** Lossless lookup persistence (hint and renames included) with a real
    * JSON writer — names containing quotes/commas survive the round-trip.
    * Train-time metrics and params ride in `metrics.json` when present. */
  def save(path: String): Unit = {
    import ScoringModel.jsonFormats
    model.write.overwrite().save(s"$path/model")
    val lookupsJson: JValue = JArray(lookups.map { lk =>
      ("tableName" -> lk.tableName) ~
        ("featureNames" -> lk.featureNames) ~
        ("lookupKey" -> lk.lookupKey) ~
        ("tableKey" -> lk.tableKey) ~
        ("hint" -> ScoringModel.hintName(lk.hint)) ~
        ("renames" -> lk.renames) ~
        ("timestampLookupKey" -> lk.timestampLookupKey) ~
        ("tableTimestampKey" -> lk.tableTimestampKey)
    }.toList)
    ScoringModel.writeText(s"$path/lookups.json",
      JsonMethods.compact(JsonMethods.render(lookupsJson)))
    if (metrics.nonEmpty || params.nonEmpty) {
      val sidecar: JValue =
        ("metrics" -> metrics.map(Extraction.decompose).getOrElse(JNothing: JValue)) ~
          ("params" -> params.map(Extraction.decompose).getOrElse(JNothing: JValue))
      ScoringModel.writeText(s"$path/metrics.json",
        JsonMethods.compact(JsonMethods.render(sidecar)))
    }
  }
}

object ScoringModel {

  private[ml] implicit val jsonFormats: Formats = DefaultFormats

  /** Runtime Scala value -> Spark type of a scoreOne input column (the
    * key/passthrough columns; the feature columns take their types from the
    * table schema). Values of any other class are refused here, naming the
    * key, rather than scored under a wrong type. */
  private[ml] def typeOf(key: String, v: Any): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    v match {
      case _: java.lang.Integer => IntegerType
      case _: java.lang.Long => LongType
      case _: java.lang.Short => ShortType
      case _: java.lang.Byte => ByteType
      case _: java.lang.Double => DoubleType
      case _: java.lang.Float => FloatType
      case _: java.lang.Boolean => BooleanType
      case _: java.math.BigDecimal => DecimalType(38, 18)
      case _: scala.math.BigDecimal => DecimalType(38, 18)
      case _: java.sql.Timestamp => TimestampType
      case _: java.sql.Date => DateType
      case _: String => StringType
      case null => throw new IllegalArgumentException(
        "scoreOne input values must be non-null: a null carries no runtime " +
          "type, so the single-row frame would get a wrong (string) schema " +
          "and fail later inside the pipeline with a confusing cast error. " +
          "Pass a typed value, or drop the column and let the lookup fill it.")
      case other => throw new IllegalArgumentException(
        s"scoreOne input '$key' has unsupported type ${other.getClass.getName}: pass a " +
          "String, a boxed number or Boolean, a BigDecimal, a java.sql.Timestamp or a java.sql.Date")
    }
  }

  private[ml] def hintName(h: LookupHint): String = h match {
    case LookupHint.Broadcast => "broadcast"
    case LookupHint.Auto      => "auto"
  }

  private def hintOf(name: String): LookupHint = name match {
    case "broadcast" => LookupHint.Broadcast
    case _           => LookupHint.Auto
  }

  private def writeText(pathStr: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(text.getBytes("UTF-8"))
    out.close()
  }

  private def readText(spark: SparkSession, pathStr: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close())
    }
  }

  /** Load a persisted model. Forward-compatible with sidecars written by
    * earlier releases: `hint`/`renames`/`tableKey` fall back to their
    * defaults when absent (older lookups.json stays loadable), and a missing
    * metrics.json just yields metrics = params = None. */
  def load(spark: SparkSession, path: String): ScoringModel = {
    val model = PipelineModel.load(s"$path/model")
    val raw = readText(spark, s"$path/lookups.json")
      .getOrElse(sys.error(s"$path/lookups.json not found"))
    val lookups = JsonMethods.parse(raw) match {
      case JArray(items) => items.collect { case o: JObject =>
        FeatureLookup(
          (o \ "tableName").extract[String],
          (o \ "featureNames").extract[Seq[String]],
          (o \ "lookupKey").extract[String],
          (o \ "tableKey").extractOpt[String],
          (o \ "hint").extractOpt[String].map(hintOf).getOrElse(LookupHint.Auto),
          (o \ "renames").extractOpt[Map[String, String]].getOrElse(Map.empty),
          (o \ "timestampLookupKey").extractOpt[String],
          (o \ "tableTimestampKey").extractOpt[String])
      }
      case other => sys.error(s"lookups.json: expected a JSON array, got $other")
    }
    val (metrics, params) = readText(spark, s"$path/metrics.json") match {
      case None => (None, None)
      case Some(text) =>
        val j = JsonMethods.parse(text)
        ((j \ "metrics").extractOpt[ClassificationMetrics],
          (j \ "params").extractOpt[TrainParams])
    }
    ScoringModel(model, lookups, metrics, params)
  }
}
