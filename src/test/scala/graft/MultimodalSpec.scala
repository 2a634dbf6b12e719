package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Multimodal

class MultimodalSpec extends AnyFunSuite with GraftSuite {

  test("media table: binary payload round-trips text bytes, kinds cycle") {
    val media = Multimodal.mediaFromDocs(spark, dir).cache()
    assert(media.count() === Tables.documents(spark, dir).count())
    val r = media.filter(col("media_id") === 0).collect().head
    val text = Tables.documents(spark, dir).filter(col("doc_id") === 0)
      .collect().head.getAs[String]("text")
    assert(new String(r.getAs[Array[Byte]]("payload"), "UTF-8") === text)
    assert(media.select("kind").distinct().count() === 3)
  }

  test("decode stub: fixed-width L1-normalized features, deterministic") {
    import spark.implicits._
    val feats = Multimodal.decodeToFeatures(
      Multimodal.mediaFromDocs(spark, dir).as[Multimodal.MediaRow]).cache()
    val f = feats.filter(col("media_id") === 1).collect().head.features
    assert(f.length === Multimodal.FeatureBins)
    assert(math.abs(f.sum - 1.0f) < 1e-3f, "histogram must be L1-normalized")
    // determinism: second run produces identical vectors
    val f2 = Multimodal.decodeToFeatures(
      Multimodal.mediaFromDocs(spark, dir).as[Multimodal.MediaRow])
      .filter(col("media_id") === 1).collect().head.features
    assert(f.toSeq === f2.toSeq)
  }

  test("frame sampling explodes every 4th 64-byte chunk of video payloads") {
    val media = Multimodal.mediaFromDocs(spark, dir)
    val frames = Multimodal.sampleFrames(media, stride = 4).cache()
    assert(frames.count() > 0)
    assert(frames.select("media_id").distinct().count() ===
      media.filter(col("kind") === "video").count())
    // frame indices are multiples of the stride
    assert(frames.filter(col("frame_idx") % 4 =!= 0).count() === 0)
    val fb = frames.filter(col("frame_idx") === 0).select("frame_bytes").collect()
    assert(fb.forall(_.getAs[Array[Byte]](0).length <= 64))
  }

  test("m1 query: per-kind feature stats, rows > 0") {
    val out = Multimodal.m1MultimodalFeatures(spark, dir).collect()
    assert(out.length === 3)
    assert(out.forall(_.getAs[Double]("avg_feat_norm") > 0))
  }

  test("columnar ByteHistogram path is bit-identical to the mapPartitions seam") {
    import spark.implicits._
    val media = Multimodal.mediaFromDocs(spark, dir).cache()
    val columnar = Multimodal.featureColumns(media)
      .select(col("media_id"), col("features")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val seam = Multimodal.decodeToFeatures(media.as[Multimodal.MediaRow])
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(columnar.keySet === seam.keySet)
    // exact float equality, not tolerance — both paths divide in
    // double then round to float once, so any mismatch is a real bug
    columnar.foreach { case (id, f) => assert(f === seam(id), s"media_id=$id") }
    media.unpersist()
  }

  test("byte_histogram counts match a JVM-side histogram of the payload") {
    val media = Multimodal.mediaFromDocs(spark, dir)
    import org.apache.spark.sql.graftshim.ColumnShim
    val counts = ColumnShim.column(graft.functions.ByteHistogram(
      ColumnShim.expression(col("payload")), Multimodal.FeatureBins))
    val got = media.select(col("media_id"), counts.as("c"), col("payload"))
      .collect()
    got.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      val want = new Array[Long](Multimodal.FeatureBins)
      bytes.foreach(b => want((b & 0xff) / (256 / Multimodal.FeatureBins)) += 1L)
      assert(r.getSeq[Long](1) === want.toSeq, s"media_id=${r.getLong(0)}")
    }
  }
}
