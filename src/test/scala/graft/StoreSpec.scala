package graft

import java.io.IOException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under the private `crashfs` scheme that injects
  * one fault into its mutating calls (create, mkdirs, rename, delete,
  * setTimes) once [[CrashFs.arm]]'s budget of calls has passed: the
  * next call either CRASHES — it and every later call throw, as if the
  * process died — or answers `false` once (create and setTimes cannot,
  * so they throw) while later calls succeed. */
class CrashFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("crashfs:///")
}) {
  private def refuse(what: String): Nothing =
    throw new IOException(s"injected fault on $what")

  override def create(f: Path, p: FsPermission, overwrite: Boolean, buf: Int,
                      rep: Short, block: Long, prog: Progressable): FSDataOutputStream = {
    if (CrashFs.fault()) refuse(s"create $f")
    super.create(f, p, overwrite, buf, rep, block, prog)
  }
  override def mkdirs(f: Path, p: FsPermission): Boolean = !CrashFs.fault() && super.mkdirs(f, p)
  override def mkdirs(f: Path): Boolean = !CrashFs.fault() && super.mkdirs(f)
  override def rename(src: Path, dst: Path): Boolean = !CrashFs.fault() && super.rename(src, dst)
  override def delete(f: Path, recursive: Boolean): Boolean =
    !CrashFs.fault() && super.delete(f, recursive)
  override def setTimes(f: Path, mtime: Long, atime: Long): Unit = {
    if (CrashFs.fault()) refuse(s"setTimes $f")
    super.setTimes(f, mtime, atime)
  }
}

object CrashFs {
  private var left = Int.MaxValue
  private var answerFalse = false
  private var faulted = false
  private var dead = false

  /** Let `calls` mutating calls pass, then inject the fault. */
  def arm(calls: Int, falseMode: Boolean): Unit = synchronized {
    left = calls; answerFalse = falseMode; faulted = false; dead = false
  }

  /** Stop injecting; true iff a fault was injected since [[arm]]. */
  def disarm(): Boolean = synchronized {
    val f = faulted
    arm(Int.MaxValue, falseMode = false)
    f
  }

  /** True when this call must answer `false`; throws on a crash. */
  def fault(): Boolean = synchronized {
    if (dead) throw new IOException("injected crash (process dead)")
    if (left > 0) { left -= 1; false }
    else if (faulted) false
    else {
      faulted = true
      if (!answerFalse) { dead = true; throw new IOException("injected crash") }
      true
    }
  }
}

/** The artifact store's crash law ([[graft.store]]) as one property,
  * plus the guards that keep swaps, tree copies and verb scratch roots
  * inside the store and ledger reads inside [[graft.streaming.WaveLedger]]. */
class StoreSpec extends AnyFunSuite with GraftSuite {

  /** Every file (with its content) and every empty directory under
    * `dir`, keyed by relative path. */
  private def snapshot(dir: JPath): Map[String, String] = {
    def empty(p: JPath): Boolean = {
      val l = Files.list(p)
      try !l.findAny().isPresent finally l.close()
    }
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_ != dir).collect {
      case p if Files.isRegularFile(p) => dir.relativize(p).toString -> Files.readString(p)
      case p if empty(p) => dir.relativize(p).toString + "/" -> ""
    }.toMap
    finally s.close()
  }

  private def put(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
  }

  /** One store verb over a fresh trial root: `setup` lays down the old
    * world, `run` is the verb, `done` is the whole trial root after a
    * successful run, `between` the states a reader may see after a
    * crashed run once `recovered` has brought the slot back. */
  private case class Verb(setup: (FileSystem, String) => Unit,
                          run: (FileSystem, String) => Unit,
                          done: Map[String, String],
                          recovered: Option[(FileSystem, String) => Unit] = None,
                          between: Set[Map[String, String]] = Set.empty)

  private val sealedLayer = Map("_SUCCESS" -> "", "_graft_schema.ddl" -> "v STRING")

  private def layerFiles(name: String, body: String): Map[String, String] =
    (sealedLayer + ("data" -> body)).map { case (f, c) => s"$name/$f" -> c }

  private def putLayer(fs: FileSystem, dir: String, body: String): Unit =
    (sealedLayer + ("data" -> body)).foreach { case (f, c) => put(fs, new Path(s"$dir/$f"), c) }

  private def swapPaths(r: String) =
    (new Path(s"$r/live"), new Path(s"$r/live.tmp"), new Path(s"$r/live.old"))

  private val swapVerb = Verb(
    setup = (fs, r) => put(fs, new Path(s"$r/live/a"), "old"),
    run = { (fs, r) =>
      val (live, stage, aside) = swapPaths(r)
      store.recover(fs, live, stage, aside)
      put(fs, new Path(stage, "a"), "new")
      put(fs, new Path(stage, "b"), "new")
      store.swap(fs, live, stage, aside)
    },
    done = Map("live/a" -> "new", "live/b" -> "new"),
    recovered = Some { (fs, r) =>
      val (live, stage, aside) = swapPaths(r)
      store.recover(fs, live, stage, aside)
    },
    between = Set(Map("live/a" -> "old"), Map("live/a" -> "new", "live/b" -> "new")))

  // more files than the suite's 4 cores, nested, plus an empty dir: the
  // clone's copies really run concurrently when a fault lands
  private val srcFiles = Map("src/y" -> "y", "src/z" -> "z") ++
    (1 to 6).flatMap(i => Seq(s"src/x/$i" -> s"$i", s"src/x/deep/$i" -> s"d$i"))

  private val cloneVerb = Verb(
    setup = { (fs, r) =>
      srcFiles.foreach { case (f, c) => put(fs, new Path(s"$r/$f"), c) }
      fs.mkdirs(new Path(s"$r/src/x/empty"))
      put(fs, new Path(s"$r/dst/stale"), "stale")
    },
    run = (_, r) => store.cloneTree(spark, s"$r/src", s"$r/dst", Seq("x", "y")),
    done = srcFiles ++ Map("src/x/empty/" -> "", "dst/x/empty/" -> "") ++
      srcFiles.collect { case (f, c) if f.startsWith("src/x/") || f == "src/y" =>
        "dst" + f.stripPrefix("src") -> c })

  private val Layers = Seq("l1", "l2")

  private def cutoverVerb(withGeneration: Boolean): Verb = {
    def staged(r: String, l: String) = if (withGeneration) s"$r/gen/$l" else s"$r/next_$l"
    Verb(
      setup = { (fs, r) =>
        Layers.foreach { l => putLayer(fs, s"$r/$l", s"old $l"); putLayer(fs, staged(r, l), s"new $l") }
      },
      run = (_, r) => store.cutover(spark, new Path(s"$r/done"), new Path(s"$r/asides"),
        Layers.map(l => store.Layer(new Path(staged(r, l)), new Path(s"$r/$l"),
          new Path(s"$r/asides/$l"))),
        generation = if (withGeneration) Some(new Path(s"$r/gen")) else None, tables = true),
      done = Layers.flatMap(l => layerFiles(l, s"new $l")).toMap + ("done" -> ""))
  }

  private val treeVerb = Verb(
    setup = (fs, r) => put(fs, new Path(s"$r/t/part"), "partial"),
    run = { (fs, r) =>
      store.ensureTree(spark, s"$r/t") {
        put(fs, new Path(s"$r/t/a"), "new")
        put(fs, new Path(s"$r/t/b"), "new")
      }
    },
    done = Map("t/a" -> "new", "t/b" -> "new", "t/_GRAFT_SUBSTRATE_OK" -> ""))

  private val verbs = Map("swap" -> swapVerb, "clone" -> cloneVerb,
    "cutover" -> cutoverVerb(withGeneration = false),
    "cutover_gen" -> cutoverVerb(withGeneration = true), "tree" -> treeVerb)

  test("crash-point property: for a fault after k mutating calls, every store " +
    "verb fails loudly, a reader after recovery sees the old or the new slot " +
    "whole, and a re-run converges to the new content with no aside, stage " +
    "or tmp sibling left") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.crashfs.impl", classOf[CrashFs].getName)
    conf.setBoolean("fs.crashfs.impl.disable.cache", true)
    val base = tempDir("store_crash")
    var trial = 0
    try {
      val gen = for {
        name <- Gen.oneOf(verbs.keys.toSeq.sorted)
        k <- Gen.chooseNum(0, 12)
        answerFalse <- Gen.oneOf(false, true)
      } yield (name, k, answerFalse)
      check("crash-point", Prop.forAllNoShrink(gen) { case (name, k, answerFalse) =>
        val verb = verbs(name)
        trial += 1
        val local = base.resolve(s"t$trial")
        val root = s"crashfs://$local"
        val fs = FileSystem.get(URI.create(root), conf)
        verb.setup(fs, root)
        CrashFs.arm(k, answerFalse)
        val threw =
          try { verb.run(fs, root); false }
          catch { case NonFatal(_) => true }
        val faulted = CrashFs.disarm()
        val loud = !faulted || threw
        val readable = !threw || verb.recovered.forall { rec =>
          rec(fs, root)
          verb.between.contains(snapshot(local))
        }
        verb.run(fs, root)
        val converged = snapshot(local) == verb.done
        Prop(loud && readable && converged) :|
          s"$name k=$k false=$answerFalse threw=$threw faulted=$faulted " +
            s"state=${snapshot(local)}"
      }, n = 200)
    } finally CrashFs.disarm()
  }

  test("store.scratch hands each invocation a cleared root with its subdirs " +
    "and writes no serve heartbeat") {
    val corpus = tempDir("store_scratch_corpus").toString
    val root = store.scratch(spark, "graft_storespec_scratch", corpus, "in", "arrive/in")
    try {
      val fs = FileSystem.get(URI.create(root), spark.sparkContext.hadoopConfiguration)
      put(fs, new Path(s"$root/in/leftover"), "previous run")
      assert(store.scratch(spark, "graft_storespec_scratch", corpus, "in", "arrive/in") === root)
      val rp = Paths.get(root)
      val walk = Files.walk(rp)
      val entries =
        try walk.iterator().asScala.map(rp.relativize(_).toString).toSet
        finally walk.close()
      assert(entries === Set("", "in", "arrive", "arrive/in"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  /** Files under `root` (relative paths) whose text, after `allow`
    * has cut the sanctioned uses, still contains `needle`. */
  private def offenders(needle: String, under: String = "",
                        allow: (String, String) => String = (_, src) => src,
                        root: JPath = Paths.get("src/main/scala")): Seq[String] = {
    val s = Files.walk(root.resolve(under))
    val sources =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    sources.map(p => root.relativize(p).toString)
      .filter(rel => allow(rel, Files.readString(root.resolve(rel))).contains(needle))
  }

  private def allowFiles(files: String*)(rel: String, src: String): String =
    if (files.contains(rel)) "" else src

  test("only the artifact store renames or copies trees: no `.rename(` in " +
    "src/main outside graft/store.scala, and no FileUtil.copy outside it and " +
    "the part-file stager") {
    assert(offenders(".rename(", allow = allowFiles("graft/store.scala")).isEmpty,
      "hand-rolled rename: route swaps through graft.store")
    assert(offenders("FileUtil.copy", allow = allowFiles("graft/store.scala",
      "graft/streaming/WaveLedger.scala")).isEmpty,
      "hand-rolled tree copy: route clones through graft.store.cloneTree")
  }

  test("one read path: no `.read.parquet(`, `.read.schema(` or `.read.option(` " +
    "in src/main outside Tables.scala and its footer shim, but readFactEvolved's " +
    "mergeSchema read") {
    val evolved = """spark.read.option("mergeSchema", "true").parquet(path)"""
    val shim = "org/apache/spark/sql/execution/datasources/parquet/FooterSchema.scala"
    val hand = Seq(".read.parquet(", ".read.schema(", ".read.option(").flatMap { needle =>
      offenders(needle, allow = (rel, src) =>
        if (rel == "graft/etl/Warehouse.scala") src.replace(evolved, "")
        else allowFiles("graft/Tables.scala", shim)(rel, src))
    }.distinct
    assert(hand.isEmpty, s"hand-rolled parquet read in $hand: read through " +
      "Tables.read/schemaOf, which resolve it without a Spark job")
  }

  test("one month writer: no month_key repartition in src/main outside " +
    "Warehouse.writeFactPartitioned") {
    val needle = "repartition(col(\"month_key\"))"
    val writer = """(?s)def writeFactPartitioned\(.*?\n  }""".r
    val monthShuffle = """repartition\(\s*(\w+\s*,\s*)?col\("month_key"\)\s*\)""".r
    val hand = offenders(needle, allow = { (rel, src) =>
      val rest = if (rel == "graft/etl/Warehouse.scala") writer.replaceFirstIn(src, "") else src
      monthShuffle.replaceAllIn(rest, java.util.regex.Matcher.quoteReplacement(needle))
    })
    assert(hand.isEmpty, s"hand-written month shuffle in $hand: write " +
      "month-partitioned facts through Warehouse.writeFactPartitioned")
  }

  test("maintenance verbs share one skeleton: `ArtifactRoots.tagged(` only in " +
    "graft/store.scala, graft/ArtifactRoots.scala and Pipeline.eArtifactRoot; " +
    "no hand-built empty frame under streaming/ outside WaveLedger.scala") {
    val eArtifactRoot =
      """def eArtifactRoot\([^)]*\)[^=]*=\s*graft\.ArtifactRoots\.tagged\(""".r
    val roots = offenders("ArtifactRoots.tagged(", allow = (rel, src) =>
      if (rel == "graft/ext/Pipeline.scala") eArtifactRoot.replaceFirstIn(src, "")
      else allowFiles("graft/store.scala", "graft/ArtifactRoots.scala")(rel, src))
    assert(roots.isEmpty, s"hand-rolled artifact root in $roots: a verb's fresh " +
      "root is graft.store.scratch, a served one graft.store.served/tree")
    val empties = offenders("createDataFrame(new java.util.ArrayList",
      under = "graft/streaming", allow = allowFiles("graft/streaming/WaveLedger.scala"))
    assert(empties.isEmpty, s"hand-built empty ledger frame in $empties: " +
      "read ledger dirs through WaveLedger.readOrEmpty")
  }

  private val builder = "SparkSession" + ".builder"

  test("every suite runs on the production session: no hand-rolled session " +
    "builder in src/test/scala outside graft/GraftSuite.scala") {
    val builders = offenders(builder, root = Paths.get("src/test/scala"),
      allow = allowFiles("graft/GraftSuite.scala"))
    assert(builders.isEmpty, s"hand-rolled session in $builders: mix in GraftSuite")
  }

  test("every main runs on the production session: no hand-rolled session " +
    "builder in src/main/scala outside graft/GraftSession.scala") {
    val mains = offenders(builder, allow = allowFiles("graft/GraftSession.scala"))
    assert(mains.isEmpty, s"hand-rolled session in $mains: call GraftSession.create")
  }

  test("suite names stay live: every `…Spec` that src/main, README.md, " +
    "CLAUDE.md or perfbench/README.md cites is a file under src/test/scala") {
    def scalaFiles(root: JPath): List[JPath] = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val suites = scalaFiles(Paths.get("src/test/scala"))
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    val docs = scalaFiles(Paths.get("src/main/scala")) ++
      Seq("README.md", "CLAUDE.md", "perfbench/README.md").map(Paths.get(_))
    val stale = docs.flatMap { p =>
      """\b[A-Z]\w*Spec\b""".r.findAllIn(Files.readString(p))
        .filterNot(suites).map(n => s"$n ($p)")
    }.distinct
    assert(stale.isEmpty, s"cited suites with no file under src/test/scala: $stale")
  }
}
