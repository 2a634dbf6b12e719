package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** The session's fork-free `file:` filesystem ([[NioLocalFileSystem]],
  * [[NioLocalFs]]): it is what FileSystem and FileContext callers get,
  * and every file and dir it writes carries the stock permission bits. */
class LocalFsSpec extends AnyFunSuite with GraftSuite {

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration
  private val local = URI.create("file:///")

  /** Stock instances, uncached, for side-by-side comparison. */
  private def stockRaw: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem
    fs.initialize(local, conf)
    fs
  }
  private def stockFs: LocalFileSystem = {
    val fs = new LocalFileSystem
    fs.initialize(local, conf)
    fs
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def hp(p: JPath): Path = new Path(p.toUri)

  test("the session's file: FileSystem and FileContext are the fork-free classes") {
    val fs = FileSystem.get(local, conf)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass === classOf[NioLocalFs])
  }

  test("setPermission leaves the same POSIX bits as the stock chmod path, " +
    "on a file and on a directory, for every non-sticky permission") {
    val root = tempDir("graft_localfs_perm")
    val nio = new NioRawLocalFileSystem
    nio.initialize(local, conf)
    val stock = stockRaw
    var i = 0
    val perms = Gen.choose(0, 511).map(m => new FsPermission(m.toShort))
    check("nio == stock", Prop.forAll(perms) { perm =>
      i += 1
      val made = Seq("f", "d").map { kind =>
        val pair = Seq("nio", "stock").map(side => root.resolve(s"$kind$i-$side"))
        pair.foreach(p => if (kind == "f") Files.createFile(p) else Files.createDirectory(p))
        nio.setPermission(hp(pair(0)), perm)
        stock.setPermission(hp(pair(1)), perm)
        pair.map(Files.getPosixFilePermissions(_))
      }
      made.forall(pair => pair(0) == pair(1))
    }, n = 100)
  }

  test("a checksummed create and a parent-making mkdirs leave the stock modes " +
    "on the data file, its .crc and every new directory") {
    val root = tempDir("graft_localfs_modes")
    val sides = Seq("nio" -> FileSystem.get(local, conf), "stock" -> stockFs)
    sides.foreach { case (side, fs) =>
      val out = fs.create(hp(root.resolve(s"$side/part-0")))
      out.write(Array.fill[Byte](1024)(7))
      out.close()
      assert(fs.mkdirs(hp(root.resolve(s"$side/a/b/c"))))
    }
    val rels = Seq("", "part-0", ".part-0.crc", "a", "a/b", "a/b/c")
    val modes = sides.map { case (side, _) =>
      rels.map(r => r -> mode(root.resolve(side).resolve(r)))
    }
    assert(modes(0) === modes(1))
    // FileContext callers (the streaming checkpoint) get the same bits
    // as the stock LocalFs that core-default.xml names
    val stockFc = FileContext.getFileContext(new Configuration())
    assert(stockFc.getDefaultFileSystem.getClass.getName === "org.apache.hadoop.fs.local.LocalFs")
    val fcModes = Seq("nio" -> FileContext.getFileContext(conf), "stock" -> stockFc).map {
      case (side, fc) =>
        fc.create(hp(root.resolve(s"fc-$side/x/offset-0")),
          java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
          .close()
        Seq("x", "x/offset-0", "x/.offset-0.crc").map(r => r -> mode(root.resolve(s"fc-$side").resolve(r)))
    }
    assert(fcModes(0) === fcModes(1))
  }

  test("a sticky-bit permission goes to the stock path, which can set it") {
    val root = tempDir("graft_localfs_sticky")
    val fs = FileSystem.get(local, conf)
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    Seq("nio", "stock").foreach(s => Files.createDirectory(root.resolve(s)))
    fs.setPermission(hp(root.resolve("nio")), sticky)
    stockRaw.setPermission(hp(root.resolve("stock")), sticky)
    assert(mode(root.resolve("nio")) === Integer.parseInt("1777", 8))
    assert(mode(root.resolve("nio")) === mode(root.resolve("stock")))
  }
}
