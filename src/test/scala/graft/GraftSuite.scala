package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.{Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.plans.FuseDotProduct

/** The one spec harness. Every suite runs against the session the
  * library ships ([[GraftSession]], Graft extensions installed) on
  * `local[4]`, so specs exercise the same optimizer rules as the
  * runnable mains; no suite calls `SparkSession.builder` itself
  * (StoreSpec guards that). Temp dirs made through [[tempDir]] are
  * deleted when the suite ends, after every streaming query is
  * stopped, so repeated runs leave nothing behind in tmpdir. */
trait GraftSuite extends BeforeAndAfterAll { this: Suite =>

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  val dir = "/root/testdata/sf0.001"

  def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  def fs(p: String): FileSystem =
    FileSystem.get(new HPath(p).toUri, spark.sparkContext.hadoopConfiguration)

  /** ScalaCheck with a fixed seed: deterministic across runs. */
  def check(name: String, prop: Prop, n: Int = 30): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(n)
        .withInitialSeed(Seed(42L)),
      prop)
    assert(res.passed, s"$name: $res")
  }

  /** Run `body` (plan AND action) with FuseDotProduct excluded, so an
    * un-fused reference keeps its higher-order `aggregate(zip_with…)`
    * form; the previous exclusion list is restored afterwards. */
  def withoutFusion[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, FuseDotProduct.ruleName)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val made = scala.collection.mutable.Buffer.empty[Path]

  def tempDir(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    made += d
    d
  }

  /** The session starts before any test, so no `file:` FileSystem a
    * session-less caller builds from a bare Configuration is cached
    * ahead of the session's fork-free one (see [[GraftSession]]). */
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark
  }

  /** A streaming query leaked by a failing test keeps its micro-batch
    * thread alive into the JVM-exit SparkContext stop, where
    * `SparkContext.broadcast` races `assertNotStopped`; stop them all
    * before their checkpoint and source dirs go. */
  override def afterAll(): Unit =
    try {
      SparkSession.getDefaultSession.foreach(_.streams.active.foreach { q =>
        try q.stop() catch { case _: Throwable => () }
      })
      made.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    } finally super.afterAll()
}
