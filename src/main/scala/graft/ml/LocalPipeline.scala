package graft.ml

import scala.collection.concurrent.TrieMap

import org.apache.spark.ml.{PipelineModel, Transformer}
import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.feature.{StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{BooleanType, NumericType, StringType, StructType}

/** Driver-side evaluation of a fitted [[Trainer.pipeline]] on one row, for
  * [[ScoringModel.scoreOne]]: every stage is compiled once into a plain
  * function over the row's values, so scoring a row plans no Spark query.
  * The result is the row `model.transform(..).collect()` returns for the
  * same one-row frame: same values, and the same schema, taken from a real
  * `transform` of an empty frame once per input schema (`transformSchema`
  * orders `prediction` before `rawPrediction`, so it is no substitute).
  *
  * Accepted stages, each only with `handleInvalid = "keep"` where it has
  * that param:
  *  - `StringIndexerModel`, `inputCol` or `inputCols` form, string inputs:
  *    label → index; a null or unseen label → `labels.length`.
  *  - `VectorAssembler`, numeric and boolean inputs: values as doubles,
  *    null → NaN, then `.compressed` as Spark's `assemble` does.
  *  - `GBTClassificationModel`: `predictRaw`, `predictProbability` and
  *    `predict`, the methods its `transform` UDFs call.
  *
  * Any other stage or mode fails with an [[IllegalArgumentException]] that
  * names it; [[ScoringModel.scoreBatch]] takes any pipeline. Thread-safe:
  * compiled stages are immutable and each call fills its own value array. */
private[ml] final class LocalPipeline(model: PipelineModel) {
  import LocalPipeline._

  private val stages: Seq[StructType => Step] = model.stages.toSeq.map(compile)
  private val plans = TrieMap.empty[StructType, Plan]

  /** Score one row whose values follow `input`'s fields. */
  def score(input: StructType, values: Seq[Any]): Row =
    plans.getOrElseUpdate(input, plan(input)).run(values)

  private def plan(input: StructType): Plan = {
    val empty = SparkSession.active.createDataFrame(java.util.Collections.emptyList[Row](), input)
    val schema = model.transform(empty).schema
    val steps = stages.map(_(schema))
    val inputSlots = input.fieldNames.map(schema.fieldIndex)
    val filled = (inputSlots ++ steps.flatMap(_.writes)).toSet
    schema.fields.indices.find(i => !filled(i)).foreach { i =>
      throw new IllegalArgumentException(s"scoreOne cannot compute column '${schema(i).name}' " +
        "on the driver: a stage option adds it that the local evaluator does not support " +
        "(e.g. a GBT leafCol); use scoreBatch")
    }
    // Inputs take the external -> Catalyst -> external round trip that a
    // createDataFrame + collect gave them (timestamps to microseconds,
    // decimals to the field's scale), so the row equals what transform returns.
    val convert = input.fields.map { f =>
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(f.dataType)
      val toScala = CatalystTypeConverters.createToScalaConverter(f.dataType)
      (v: Any) => toScala(toCatalyst(v))
    }
    Plan(schema, inputSlots, convert, steps.map(_.run))
  }
}

private[ml] object LocalPipeline {

  /** A stage bound to one output schema: the slots it writes, and the
    * function that writes them from earlier slots. */
  private final case class Step(writes: Seq[Int], run: Array[Any] => Unit)

  private final case class Plan(
      schema: StructType,
      inputSlots: Array[Int],
      convert: Array[Any => Any],
      steps: Seq[Array[Any] => Unit]) {
    def run(values: Seq[Any]): Row = {
      val slots = new Array[Any](schema.length)
      values.iterator.zipWithIndex.foreach { case (v, i) => slots(inputSlots(i)) = convert(i)(v) }
      steps.foreach(_(slots))
      new GenericRowWithSchema(slots, schema)
    }
  }

  private def name(stage: Transformer): String = s"${stage.getClass.getSimpleName} (${stage.uid})"

  private def compile(stage: Transformer): StructType => Step = stage match {
    case m: StringIndexerModel => requireKeep(m, m.getHandleInvalid); indexer(m)
    case m: VectorAssembler => requireKeep(m, m.getHandleInvalid); assembler(m)
    case m: GBTClassificationModel => gbt(m)
    case other => throw new IllegalArgumentException(
      s"scoreOne cannot evaluate stage ${name(other)} on the driver; it accepts " +
        "StringIndexerModel, VectorAssembler and GBTClassificationModel — use scoreBatch")
  }

  private def requireKeep(stage: Transformer, handleInvalid: String): Unit =
    if (handleInvalid != "keep") throw new IllegalArgumentException(
      s"scoreOne evaluates ${name(stage)} only with handleInvalid = \"keep\", " +
        s"not \"$handleInvalid\" — use scoreBatch")

  private def indexer(m: StringIndexerModel): StructType => Step = {
    val (ins, outs) =
      if (m.isSet(m.inputCol)) (Array(m.getInputCol), Array(m.getOutputCol))
      else (m.getInputCols, m.getOutputCols)
    val columns = ins.indices.map { i =>
      val labels = m.labelsArray(i)
      val index: Map[String, Any] = labels.zipWithIndex.map { case (l, j) => l -> j.toDouble }.toMap
      (ins(i), outs(i), index, labels.length.toDouble: Any)
    }
    schema => {
      // Like transform, skip a column whose input is absent.
      val bound = columns.filter(c => schema.fieldNames.contains(c._1)).map { case (in, out, index, keep) =>
        if (schema(in).dataType != StringType) throw new IllegalArgumentException(
          s"scoreOne evaluates ${name(m)} on string columns only; '$in' is ${schema(in).dataType.simpleString}")
        (schema.fieldIndex(in), schema.fieldIndex(out), index, keep)
      }
      Step(bound.map(_._2), slots => bound.foreach { case (in, out, index, keep) =>
        slots(out) = slots(in) match {
          case label: String => index.getOrElse(label, keep)
          case _ => keep
        }
      })
    }
  }

  private def assembler(m: VectorAssembler): StructType => Step = schema => {
    val ins = m.getInputCols.map { c =>
      val toDouble: Any => Double = schema(c).dataType match {
        case _: NumericType => v => if (v == null) Double.NaN else v.asInstanceOf[Number].doubleValue
        case BooleanType => v => if (v == null) Double.NaN else if (v.asInstanceOf[Boolean]) 1.0 else 0.0
        case t => throw new IllegalArgumentException(
          s"scoreOne evaluates ${name(m)} on numeric and boolean columns only; '$c' is ${t.simpleString}")
      }
      (schema.fieldIndex(c), toDouble)
    }
    val out = schema.fieldIndex(m.getOutputCol)
    Step(Seq(out), slots => slots(out) = assemble(ins.map { case (i, toDouble) => toDouble(slots(i)) }))
  }

  /** `VectorAssembler.assemble` for scalar inputs: zeros (either sign) stay
    * implicit, NaN is kept, and the vector takes its compact form. */
  private def assemble(values: Array[Double]): Vector = {
    val nonZero = values.indices.filter(i => values(i) != 0.0).toArray
    Vectors.sparse(values.length, nonZero, nonZero.map(values)).compressed
  }

  private def gbt(m: GBTClassificationModel): StructType => Step = schema => {
    val features = schema.fieldIndex(m.getFeaturesCol)
    val outs = Seq[(String, Vector => Any)](
      m.getRawPredictionCol -> m.predictRaw,
      m.getProbabilityCol -> m.predictProbability,
      m.getPredictionCol -> m.predict
    ).collect { case (c, f) if c.nonEmpty => schema.fieldIndex(c) -> f }
    Step(outs.map(_._1), slots => {
      val v = slots(features).asInstanceOf[Vector]
      outs.foreach { case (out, f) => slots(out) = f(v) }
    })
  }
}
