package graft.ext

import org.apache.spark.sql.SparkSession

/** ONE definition of the size-gated broadcast decision shared by
  * every auto-gate (k-means assignment, t28's encode join): read the
  * gate's DEDICATED conf key first, fall back to the session's
  * `spark.sql.autoBroadcastJoinThreshold` — so suppressing SQL
  * broadcast joins globally doesn't silently flip a graft gate, and a
  * graft knob doesn't leak into SQL planning. Two copies of the
  * threshold parsing drifting independently is the same failure the
  * WaveLedger consolidation exists to prevent, so the
  * parse lives here and the gates call it. Accepts a plain long or a
  * Spark byte string ("10m"); an unparseable value falls back to the
  * 10 MiB default rather than failing a build over a conf typo; a
  * non-positive threshold disables broadcasting. */
private[ext] object SizeGate {

  val DefaultThreshold = 10485760L

  def thresholdOf(spark: SparkSession, dedicatedKey: String): Long = {
    val raw = spark.conf.getOption(dedicatedKey)
      .getOrElse(spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
        DefaultThreshold.toString))
    try raw.trim.toLong
    catch {
      case _: NumberFormatException =>
        try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw.trim)
        catch { case _: Exception => DefaultThreshold }
    }
  }

  /** true = the build side of `bytes` estimated size fits under the
    * resolved threshold (and broadcasting is not disabled). */
  def fits(spark: SparkSession, dedicatedKey: String, bytes: Long): Boolean = {
    val thresh = thresholdOf(spark, dedicatedKey)
    thresh > 0 && bytes <= thresh
  }
}
