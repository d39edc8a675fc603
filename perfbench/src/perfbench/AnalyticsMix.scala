package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Passes over the ANN index lifecycle (q165: delta admission plus
  * tombstone), PageRank (q149), the iterative graph ladder (q150) and the
  * streaming SCD2 commit path (q144). The order is fixed: a run makes one
  * pass, and a seeded order only moved each query's first-in-pass cost
  * from run to run. Each result is materialised as parquet under
  * `work/results`, where the hash check reads it. */
final class AnalyticsMix(spark: SparkSession, data: String, work: String, rec: Recorder) {

  /** Off the clock, in two parts that share nothing and so can run side
    * by side: the co-purchase edge artifact the graph queries load, and one
    * run of q165, which builds the persisted IVF base that its admission
    * and tombstone segments land on (the artifacts `SparkEntry.warmIndexes`
    * builds, minus the ones no query here reads). */
  def setupGraph(): Unit = graft.ops.GraphEdges.warm(spark, data)

  def setupIndex(): Unit =
    SparkEntry.queries("q165_ivf_delete")(spark, data).write.format("noop").mode("overwrite").save()

  def pass(): Unit = AnalyticsMix.pass.foreach { q =>
    val t0 = System.nanoTime()
    val ok = rec.op(q) {
      Trace.span(s"q.$q") {
        SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(s"$work/results/$q")
      }
    }
    if (ok) rec.add(AnalyticsMix.metric(q), (System.nanoTime() - t0) / 1e9)
  }
}

object AnalyticsMix {
  /** Each query and the end-to-end metric its time goes to. */
  val metric: Map[String, String] = Map(
    "q165_ivf_delete" -> "index_lifecycle_s",
    "q149_copurchase_pagerank" -> "graph_pagerank_s",
    "q150_copurchase_components" -> "graph_ladder_s",
    "q144_stream_scd2" -> "stream_s")
  val pass: Seq[String] = Seq(
    "q165_ivf_delete", "q149_copurchase_pagerank", "q150_copurchase_components", "q144_stream_scd2")
}
