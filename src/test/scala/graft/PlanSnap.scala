package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Snapshot the formatted physical plan of named queries into
  * per-query text files — the before/after evidence the optimization
  * rounds commit under plans/rNN/. Usage:
  *   sbt "Test/runMain graft.PlanSnap plans/r17 _before q55_snapshot_increment ..."
  * Special name "star_build" snapshots the bench-only row's three
  * frames (fact, dim_product, dim_shipping) into one file. Building
  * the DataFrame runs any artifact side effects the entry performs —
  * same contract as the bench. */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <outDir> <suffix> <query>...")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create(32)
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    names.foreach { name =>
      val text = name match {
        // r18 tranche 3 evidence: the stream rows' optimization lives
        // INSIDE foreachBatch (the serve frames are shape-identical),
        // so these two names snapshot the per-batch frames themselves.
        // With suffix "_before", st13 reproduces the pre-tranche form
        // (broadcastNew=false is the unchanged default arm e13/d22
        // still run); st15 always snapshots the production kernel —
        // its pre-tranche form is the committed
        // plans/r18/st15_batch_pairs_before.txt (see the git history
        // of Similarity.knngArriveWaveTablesOn).
        case "st13_batch_candidates" =>
          import org.apache.spark.sql.functions._
          // the wave's signatures DERIVE from the micro-batch (an
          // aggregate with no size statistics — the planner cannot
          // auto-broadcast it), exactly as maintainBatch computes them;
          // an artifact-derived stand-in would carry parquet stats and
          // misrepresent the unhinted plan
          val waveDocs0 = Tables.documents(spark, sfDir)
            .filter(graft.ext.Pipeline.e4DeltaPredOn("doc_id"))
            .filter(col("doc_id") % 3 === 0)
          // erase size statistics via an RDD round-trip: foreachBatch
          // hands the kernel a LogicalRDD whose sizeInBytes is the
          // session default (effectively unknown/huge), so the planner
          // cannot auto-broadcast anything derived from it — a
          // file-backed stand-in with parquet stats would
          val waveDocs = spark.createDataFrame(waveDocs0.rdd, waveDocs0.schema)
          val wave = graft.ext.Dedup.minhashSignatures(
            graft.ext.Dedup.shingleRows(waveDocs))
          val base = graft.ext.Pipeline.signaturesArtifact(spark, sfDir)
            .filter(!graft.ext.Pipeline.e4DeltaPredOn("doc_id"))
          planOf(graft.ext.Dedup.arrivalCandidates(wave,
            base.unionByName(wave), broadcastNew = suffix != "_before"))
        case "st15_batch_pairs" =>
          import org.apache.spark.sql.functions._
          val waveEmb = Tables.embeddings(spark, sfDir)
            .filter(col("vec_id") % 10 === graft.ext.Similarity.S13AppendDigit)
            .filter(col("vec_id") % 3 === 0)
          val noPriorArrivals = graft.streaming.WaveLedger.readOrEmpty(spark, Nil,
            new org.apache.spark.sql.types.StructType()
              .add("vec_id", org.apache.spark.sql.types.LongType)
              .add("cid", org.apache.spark.sql.types.LongType)
              .add("r", org.apache.spark.sql.types.IntegerType))
          planOf(graft.ext.Similarity.knngArriveWaveTables(spark, sfDir,
            waveEmb, noPriorArrivals)._2)
        case "star_build" =>
          // the bench row's form (materializeStar since r17)
          val st = graft.etl.RetailStar.materializeStar(spark, sfDir)
          Seq("fact" -> st.fact, "dim_product" -> st.product,
            "dim_shipping" -> st.shipping)
            .map { case (t, df) => s"== star_build: $t ==\n" + planOf(df) }
            .mkString("\n")
        case n => planOf(SparkEntry.queries(n)(spark, sfDir))
      }
      Files.writeString(outDir.resolve(s"$name$suffix.txt"), text)
      println(s"SNAP $name -> ${outDir.resolve(s"$name$suffix.txt")}")
    }
    spark.stop()
  }
}
