package graft

import org.apache.spark.sql.SparkSession

/** Throwaway profiling harness for chasing individual bench outliers;
  * not part of the library surface. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Tables.all.foreach { t =>
      try {
        if (t == "events") Tables.events(spark, sfDir).count()
        else Tables.load(spark, sfDir, t).count()
      } catch { case e: Throwable =>
        System.err.println(s"warmup failed for table $t: ${e.getClass.getSimpleName}")
      }
    }
    val names = if (args.isEmpty) Seq("q24_approx_distinct") else args.toSeq
    // generic job-level decomposition: run any query twice with a
    // listener printing every Spark job's duration + call site
    if (names.headOption.contains("probe_jobs")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(js.jobId, (System.nanoTime(),
            Option(js.properties.getProperty("spark.job.description"))
              .orElse(Option(js.properties.getProperty("callSite.short")))
              .getOrElse("?")))
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = starts.remove(je.jobId)
          if (s != null)
            println(f"JOB ${je.jobId}%4d ${(System.nanoTime() - s._1) / 1e9}%7.3f ${s._2}")
        }
      })
      names.drop(1).foreach { name =>
        for (i <- 1 to 2) {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          println(f"PROBE $name $i ${(System.nanoTime() - t0) / 1e9}%.3f")
          spark.catalog.clearCache()
        }
      }
      spark.stop(); return
    }
    // one-off decomposition probe for m10's phases
    if (names == Seq("probe_m10")) {
      import org.apache.spark.sql.functions._
      def time[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"PHASE $label ${(System.nanoTime() - t0) / 1e9}%.3f"); r
      }
      for (i <- 1 to 3) {
        println(s"--- rep $i")
        val art = time("artifact_call") {
          graft.ext.Pipeline.mediaPairsArtifact(spark, sfDir)
        }
        time("artifact_noop") {
          art.write.mode("overwrite").format("noop").save()
        }
        val base = art.filter(
          pmod(col("a_id"), lit(graft.ext.Multimodal.M10ArrivalMod)) =!=
            graft.ext.Multimodal.M10ArrivalDigit &&
          pmod(col("b_id"), lit(graft.ext.Multimodal.M10ArrivalMod)) =!=
            graft.ext.Multimodal.M10ArrivalDigit)
        time("base_noop") {
          base.write.mode("overwrite").format("noop").save()
        }
        time("full_m10") {
          SparkEntry.queries("m10_media_append")(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
        }
        spark.catalog.clearCache()
      }
      spark.stop(); return
    }
    // one-off decomposition probe for st13's phases (r18)
    if (names == Seq("probe_st13")) {
      import org.apache.spark.sql.functions._
      def timed[A](label: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.3f")
        r
      }
      for (i <- 1 to 2) {
        val base = ArtifactRoots.tagged("graft_st13", sfDir)
        val bp = new org.apache.hadoop.fs.Path(base)
        val f = org.apache.hadoop.fs.FileSystem.get(bp.toUri,
          spark.sparkContext.hadoopConfiguration)
        timed(s"scratch clear $i") {
          if (f.exists(bp)) f.delete(bp, true)
          f.mkdirs(new org.apache.hadoop.fs.Path(s"$base/in"))
        }
        timed(s"stage w0 $i")(graft.streaming.DocumentsStream.stageWave(spark, sfDir, base, 0))
        timed(s"run 1 $i")(graft.streaming.DocumentsStream
          .runMaintain(spark, sfDir, base, s"$base/cp").stop())
        timed(s"stage w1 $i")(graft.streaming.DocumentsStream.stageWave(spark, sfDir, base, 1))
        timed(s"run 2 $i")(graft.streaming.DocumentsStream
          .runMaintain(spark, sfDir, base, s"$base/cp").stop())
        timed(s"serve $i")(graft.streaming.DocumentsStream
          .labelsFromLedger(spark, sfDir, base)
          .write.mode("overwrite").format("noop").save())
        // bare stream machinery: same file source over the staged wave,
        // no-op foreachBatch, fresh checkpoint
        timed(s"bare stream $i") {
          graft.streaming.WaveLedger.run(spark, Tables.documents(spark, sfDir).schema,
            s"$base/in", s"$base/cp_bare$i")((_, _) => ()).stop()
        }
        spark.catalog.clearCache()
      }
      spark.stop(); return
    }
    // one-off decomposition probe for st21's phases
    if (names == Seq("probe_st21")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(js.jobId, (System.nanoTime(),
            Option(js.properties.getProperty("callSite.short")).getOrElse("?")))
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = starts.remove(je.jobId)
          if (s != null)
            println(f"JOB ${je.jobId}%4d ${(System.nanoTime() - s._1) / 1e9}%7.3f ${s._2}")
        }
      })
      import org.apache.spark.sql.functions._
      def timed[A](label: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.3f")
        r
      }
      for (i <- 1 to 2) {
        val base = ArtifactRoots.tagged("graft_st21", sfDir)
        val bp = new org.apache.hadoop.fs.Path(base)
        val f = org.apache.hadoop.fs.FileSystem.get(bp.toUri,
          spark.sparkContext.hadoopConfiguration)
        if (f.exists(bp)) f.delete(bp, true)
        f.mkdirs(new org.apache.hadoop.fs.Path(s"$base/arrive/in"))
        val rBase = timed(s"substrate $i")(
          graft.streaming.DocumentsStream.st21RetractSubstrate(spark, sfDir))
        val newDocs = graft.ext.Dedup.d22EditedBatch(spark, sfDir)
        timed(s"stage w2 $i")(graft.streaming.WaveLedger.stageFrameWave(
          spark, newDocs.filter(col("doc_id") % 3 === 0), base, s"$base/arrive/in", 2))
        timed(s"run arrive 1 $i")(graft.streaming.DocumentsStream
          .runUpdateArrive(spark, sfDir, base, s"$base/arrive/cp", rBase).stop())
        timed(s"stage w3 $i")(graft.streaming.WaveLedger.stageFrameWave(
          spark, newDocs.filter(col("doc_id") % 3 =!= 0), base, s"$base/arrive/in", 3))
        timed(s"run arrive 2 $i")(graft.streaming.DocumentsStream
          .runUpdateArrive(spark, sfDir, base, s"$base/arrive/cp", rBase).stop())
        timed(s"serve $i")(graft.streaming.DocumentsStream
          .st21Serve(spark, sfDir, base, rBase)
          .write.mode("overwrite").format("noop").save())
        spark.catalog.clearCache()
      }
      spark.stop(); return
    }
    // one-off decomposition probe for the star-tier maintenance rows
    if (names == Seq("probe_star_io")) {
      import org.apache.spark.sql.functions._
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_probe_star"
      def timed[A](label: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.3f")
        r
      }
      val fact = timed("servedStar.fact resolve")(
        graft.etl.RetailStar.servedStar(spark, sfDir).fact)
      timed("fact.count")(fact.count())
      for (i <- 1 to 2) {
        timed(s"writeFactPartitioned $i")(
          graft.etl.Warehouse.writeFactPartitioned(fact, s"$tmp/part"))
        timed(s"monthCensus over partitioned $i")(
          graft.etl.Warehouse.monthCensus(
            spark.read.schema(fact.schema).parquet(s"$tmp/part")).collect())
        timed(s"coalesce(1) full-fact write $i")(
          fact.coalesce(1).write.mode("overwrite").parquet(s"$tmp/one"))
        timed(s"arrivingMonthKey $i")(
          graft.etl.RetailStar.arrivingMonthKeys(spark, sfDir, 1))
        timed(s"empty stream start/stop $i") {
          val q = spark.readStream.schema(fact.schema)
            .option("maxFilesPerTrigger", 1).parquet(s"$tmp/one")
            .writeStream.option("checkpointLocation", s"$tmp/cp$i")
            .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => ())
            .start()
          q.processAllAvailable(); q.stop()
        }
        timed(s"dynamic-overwrite single-month rewrite $i") {
          graft.etl.Warehouse.withDynamicOverwrite(spark) {
            fact.filter(col("month_key") === "121998")
              .write.mode("overwrite").partitionBy("month_key").parquet(s"$tmp/part")
          }
        }
        timed(s"repartition(1) full-fact write $i")(
          fact.repartition(1).write.mode("overwrite").parquet(s"$tmp/one_r"))
        val oneFile = spark.read.schema(fact.schema).parquet(s"$tmp/one")
        timed(s"dyn-overwrite 79 months from 1-file input, as-is $i") {
          graft.etl.Warehouse.withDynamicOverwrite(spark) {
            oneFile.write.mode("overwrite").partitionBy("month_key").parquet(s"$tmp/part")
          }
        }
        timed(s"dyn-overwrite 79 months from 1-file input, repartitioned $i") {
          graft.etl.Warehouse.withDynamicOverwrite(spark) {
            oneFile.repartition(org.apache.spark.sql.functions.col("month_key"))
              .write.mode("overwrite").partitionBy("month_key").parquet(s"$tmp/part")
          }
        }
      }
      spark.stop(); return
    }
    names.foreach { name =>
      // multi-frame rows (the bench's star_build shapes) time ALL
      // their outputs; single-frame rows go through the usual path
      val frames: (SparkSession, String) => Seq[org.apache.spark.sql.DataFrame] = name match {
        case "star_staging" => (s, d) => Seq(graft.etl.RetailStar.stagingFromTpch(s, d))
        case "star_cleaned" => (s, d) => Seq(graft.etl.RetailClean.clean(graft.etl.RetailStar.stagingFromTpch(s, d)))
        case "star_fact"    => (s, d) => Seq(graft.etl.RetailStar.buildFact(s, d))
        case "star_build_lazy" => (s, d) =>
          val st = graft.etl.RetailStar.buildStar(s, d)
          Seq(st.fact, st.product, st.shipping)
        case "star_build_shared" => (s, d) =>
          val st = graft.etl.RetailStar.materializeStar(s, d)
          Seq(st.fact, st.product, st.shipping)
        case n => (s, d) => Seq(SparkEntry.queries(n)(s, d))
      }
      def fn(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
        frames(s, d).head
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        frames(spark, sfDir).foreach(_.write.mode("overwrite").format("noop").save())
        println(s"RUN $name $i ${(System.nanoTime() - t0) / 1e9}")
        spark.catalog.clearCache()
      }
      if (names.size == 1) fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
