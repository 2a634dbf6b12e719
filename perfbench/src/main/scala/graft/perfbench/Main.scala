package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.{ArtifactRoots, GraftSession, SparkEntry}

/** The benchmark's JVM side. `run.py` prepares the input and calls:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR --out OUT
  *
  * The run is made of rounds. A round copies the input to a path of its
  * own (hard links, so a fresh corpus fingerprint), builds the
  * workload's artifacts from an empty artifact root (setup), then calls
  * every row once, in seeded order, against what setup built (a pass).
  * Round 1 runs in a cold JVM; its results are written under OUT/rows
  * for the correctness check and its times are reported apart. Warm
  * rounds follow, at least [[WarmRounds]] of them and more until they
  * have run for S seconds; the metrics are medians over the warm
  * rounds. A row's latency runs from its call until its result is
  * collected on the driver. Writes OUT/result.json and, traced,
  * OUT/trace.json. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Setup + pass rounds after the cold one; the metrics are their medians. */
  val WarmRounds = 2

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def children(f: File): Seq[File] = Option(f.listFiles).map(_.toSeq).getOrElse(Nil)

  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) children(f).iterator.flatMap(walk) else Iterator(f)

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath)) children(f).foreach(deleteTree)
    f.delete()
  }

  /** A persisted artifact family tree, `graft_<family>_v<N>_<tag>_<fingerprint>`,
    * for the families built once per corpus and served after; a verb's
    * own working root is not a build. */
  private val FamilyTree = ("^graft_(star|starwh|st24ld|e_artifacts|ivfq|ivfsub_base|ivfsub_full|" +
    "knng|st21ret|st23ret)_v[0-9]+_[0-9a-f]+_[0-9a-f]+$").r

  private def familyTrees(root: File): Set[String] =
    children(root).map(_.getName).filter(FamilyTree.matches).toSet

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workloads.all(o("workload"))
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val data = new File(o("data"))
    val out = Paths.get(o("out"))
    val heap = new HeapPeak
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.create(cpus)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    def span[T](kind: String, name: String, layer: String)(body: => T): T =
      tracer.fold(body)(_.span(kind, name, layer)(body))
    val root = new File(ArtifactRoots.root)
    val fns = SparkEntry.queries
    val order = new Random(seed).shuffle(wl.rows)
    def layer(row: String) = Workloads.layerOf(row)

    val buildTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val status = mutable.LinkedHashMap.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    val builtDuringServe = mutable.ArrayBuffer.empty[String]
    val firstResults = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    var attempted = 0

    def describe(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("").take(200)}"

    /** Call one row and collect its result; a throw is a failed row,
      * named. Under tracing, also record any artifact family tree the
      * row created (a lazy build that setup missed). */
    def runRow(r: String, dir: String): Option[(Double, StructType, Array[Row])] = {
      attempted += 1
      val treesBefore = if (traced) familyTrees(root) else Set.empty[String]
      val t0 = System.nanoTime()
      val res = try span("row", r, layer(r)) {
          val df = fns(r)(spark, dir)
          Some((df.schema, df.collect()))
        } catch { case e: Throwable => failures += s"$r: ${describe(e)}"; None }
      val t = secs(t0)
      println(f"perfbench: row $r%s $t%.3f s${if (res.isDefined) "" else " FAILED"}%s")
      spark.catalog.clearCache()
      if (traced)
        (familyTrees(root) -- treesBefore).toSeq.sorted.foreach(x => builtDuringServe += s"$r: $x")
      res.map { case (schema, rows) => (t, schema, rows) }
    }

    var warm0 = 0L
    span("run", wl.name, "run") {
      var round = 0
      while (round < 1 + WarmRounds || secs(warm0) < seconds) {
        if (round == 1) warm0 = System.nanoTime()
        round += 1
        // a fresh input path and an empty artifact root for every round
        children(root).foreach(deleteTree)
        val dir = new File(data.getParentFile, s"${data.getName}_round$round")
        dir.mkdirs()
        children(data).foreach(f => Files.createLink(dir.toPath.resolve(f.getName), f.toPath))
        val s0 = System.nanoTime()
        span("phase", s"setup$round", "setup") {
          wl.builders.foreach { b =>
            val t0 = System.nanoTime()
            span("builder", b.name, b.layer) { b.run(spark, dir.getPath) }
            buildTimes.getOrElseUpdate(b.name, mutable.ArrayBuffer.empty) += secs(t0)
            println(f"perfbench: setup$round%d ${b.name}%s ${secs(t0)}%.3f s")
          }
        }
        setupTimes += secs(s0)
        spark.catalog.clearCache()
        val p0 = System.nanoTime()
        span("phase", s"serve$round", "serve") {
          order.foreach { r =>
            val res = runRow(r, dir.getPath)
            res.foreach(x => latencies.getOrElseUpdate(r, mutable.ArrayBuffer.empty) += x._1)
            if (round == 1) {
              status(r) = if (res.isDefined) "ok" else "failed"
              res.foreach { case (_, schema, rows) => firstResults(r) = (schema, rows) }
            }
          }
        }
        passTimes += secs(p0)
      }
      // ---- round 1's results, written for the correctness check
      span("phase", "check", "check") {
        firstResults.foreach { case (r, (schema, rows)) =>
          span("check", r, "check") {
            spark.createDataFrame(rows.toSeq.asJava, schema).write.mode("overwrite")
              .parquet(out.resolve("rows").resolve(r).toString)
          }
        }
      }
    }

    // warm-round medians; a row's latency is its median over the warm
    // rounds, and the percentiles are taken over rows
    def warm(xs: collection.Seq[Double]): Seq[Double] = xs.drop(1).toSeq
    val rowLatency = order.flatMap(r => latencies.get(r).map(x => r -> Stats.median(warm(x)))).toMap
    val artifactFiles = walk(root).toSeq
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "cores" -> cpus,
      "rows" -> order, "row_layers" -> order.map(r => r -> layer(r)).toMap,
      "oracle_sql" -> order.flatMap(r => SparkEntry.oracleSql.get(r).map(r -> _)).toMap,
      "status" -> status, "failures" -> failures, "attempted" -> attempted,
      "rounds" -> setupTimes.size,
      "setup_rounds_s" -> setupTimes, "setup_s" -> Stats.median(warm(setupTimes)),
      "pass_rounds_s" -> passTimes, "wall_s" -> Stats.median(warm(passTimes)),
      "row_latencies_s" -> latencies,
      "row_samples" -> rowLatency.size,
      "row_p50_s" -> Stats.percentile(rowLatency.values.toSeq, 0.5),
      "row_p80_s" -> Stats.percentile(rowLatency.values.toSeq, 0.8),
      "artifact_mb" -> artifactFiles.map(_.length).sum / 1048576.0,
      "heap_live_peak_mb" -> heap.peakMb,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)

    tracer.foreach { tr =>
      val byId = tr.spans.map(s => s.id -> s).toMap
      def phase(s: Span): String = byId.get(s.parent).map(_.name).getOrElse("")
      // the last round: a warm JVM, an empty root, as setup_s and the
      // row medians mostly see it
      val last = setupTimes.size
      val (m, tree) = tr.report(s => Set(s"setup$last", s"serve$last")(phase(s)),
        s => phase(s) == s"serve$last", Seq("queries", "etl", "ext", "streaming", "artifacts"))
      val perLayer = mutable.LinkedHashMap[String, Any]() ++ m
      Workloads.builderNames.foreach { b =>
        perLayer(s"artifacts.build_s.$b") = buildTimes.get(b).map(x => Stats.median(warm(x))).getOrElse(0.0)
      }
      perLayer("artifacts.files") = artifactFiles.size
      perLayer("artifacts.builds_during_serve") = builtDuringServe.size
      perLayer("trace.wall_s") = result("wall_s")
      result("per_layer") = perLayer
      result("builds_during_serve") = builtDuringServe
      Files.writeString(out.resolve("trace.json"), json.writeValueAsString(Map("workload" -> wl.name,
        "seed" -> seed, "spans" -> tree)))
    }

    Files.writeString(out.resolve("result.json"), json.writeValueAsString(result))
    spark.stop()
  }
}
