package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Spec shorthands for the single-question form of [[AnnIndex.serve]]:
  * one probe is a batch of one, and dropping its probe-id column leaves
  * the (id, score) rows. */
object AnnServe {
  val ProbeId = "__probe_id"

  /** A one-row frame holding the vector in `probeCol`, as a probe set.
    * The probe id comes from a range, not a literal: a foldable id would
    * fold the serve's per-probe window partitioning away. */
  def oneProbe(probeDf: DataFrame, probeCol: String): DataFrame =
    probeDf.sparkSession.range(1).toDF(ProbeId)
      .crossJoin(probeDf.select(col(probeCol)))

  /** A driver-side vector as a probe set of one. */
  def vectorProbe(spark: SparkSession, v: Array[Float]): DataFrame = {
    import spark.implicits._
    Seq((0L, v)).toDF(ProbeId, "__probe")
  }

  /** The (id, score) rows of a served batch of one. */
  def single(served: DataFrame): DataFrame = served.drop(ProbeId)
}
