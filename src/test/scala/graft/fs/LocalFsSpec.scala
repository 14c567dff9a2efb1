package graft.fs

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free `file:` classes leave the same result on disk as stock
  * Hadoop's. Each case runs once through the stock classes and once
  * through graft's, each built from an explicit conf (so neither comes
  * from the JVM-wide FileSystem cache), in twin directories, and
  * compares what they left behind.
  */
class LocalFsSpec extends AnyFunSuite {

  private val stock = Impl("org.apache.hadoop.fs.LocalFileSystem",
    "org.apache.hadoop.fs.local.LocalFs")
  private val forkFree = Impl(classOf[ForkFreeLocalFileSystem].getName,
    classOf[ForkFreeLocalFs].getName)

  private case class Impl(fsClass: String, afsClass: String) {
    def conf(umask: String): Configuration = {
      val c = new Configuration()
      c.set("fs.file.impl", fsClass)
      c.set("fs.AbstractFileSystem.file.impl", afsClass)
      c.set(FsPermission.UMASK_LABEL, umask)
      c
    }
    def fs(umask: String = "022"): FileSystem = {
      val f = FileSystem.newInstance(URI.create("file:///"), conf(umask))
      assert(f.getClass.getName == fsClass)
      f
    }
    def fc(umask: String = "022"): FileContext = {
      val c = FileContext.getFileContext(URI.create("file:///"), conf(umask))
      assert(c.getDefaultFileSystem.getClass.getName == afsClass)
      c
    }
  }

  private def hpath(p: JPath) = new Path(p.toUri)

  /** rwx bits plus the setuid/setgid/sticky bits NIO's view omits. */
  private def mode(p: JPath): (Set[String], Int) =
    (Files.getPosixFilePermissions(p).asScala.map(_.toString).toSet,
      Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xe00)

  /** Every entry under `root`: relative path, mode, and file bytes. */
  private def tree(root: JPath): Seq[(String, (Set[String], Int), Seq[Byte])] =
    Files.walk(root).iterator.asScala.filter(_ != root).map { p =>
      (root.relativize(p).toString, mode(p),
        if (Files.isDirectory(p)) Nil else Files.readAllBytes(p).toSeq)
    }.toSeq.sortBy(_._1)

  /** Runs `body` for each implementation in its own fresh directory and
    * returns both trees; asserts they are equal.
    */
  private def sameTree(name: String)(body: (Impl, JPath) => Unit): Seq[(String, (Set[String], Int), Seq[Byte])] = {
    val Seq(a, b) = Seq(stock, forkFree).map { impl =>
      val root = Files.createTempDirectory(s"localfs_$name")
      body(impl, root)
      tree(root)
    }
    assert(b == a, name)
    a
  }

  private def chmod(mode: String, p: JPath): Unit =
    assert(new ProcessBuilder("chmod", mode, p.toString).start().waitFor() == 0)

  test("mkdirs and create leave the same permissions under umask 022 and 077") {
    val seen = for (umask <- Seq("022", "077"); perm <- Seq(0x1ed, 0x1a4, 0x1c0, 0x1ff)) yield {
      val fsPerm = new FsPermission(perm.toShort)
      val t = sameTree(s"perm_${umask}_${perm.toOctalString}") { (impl, root) =>
        val fs = impl.fs(umask)
        try {
          assert(fs.mkdirs(hpath(root.resolve("d/a/b")), fsPerm))
          fs.create(hpath(root.resolve("f.bin")), fsPerm, true, 4096, 1.toShort, 1L << 25, null)
            .close()
          fs.mkdirs(hpath(root.resolve("plain")))
        } finally fs.close()
      }
      t.map(_._2).toSet
    }
    // the matrix yields many distinct modes, so an unapplied chmod would show
    assert(seen.flatten.toSet.size >= 4)
  }

  test("a sticky-bit directory and a setgid directory come out the same") {
    val t = sameTree("special") { (impl, root) =>
      val fs = impl.fs()
      try {
        // mkdirs masks the sticky bit away; setPermission applies it
        assert(fs.mkdirs(hpath(root.resolve("sticky"))))
        fs.setPermission(hpath(root.resolve("sticky")), new FsPermission(0x3ff.toShort))
        val sgid = Files.createDirectory(root.resolve("sgid"))
        chmod("2755", sgid)
        fs.setPermission(hpath(sgid), new FsPermission(0x1e8.toShort))
        // a child of a setgid directory inherits the bit on Linux
        assert(fs.mkdirs(hpath(sgid.resolve("child")), new FsPermission(0x1c0.toShort)))
      } finally fs.close()
    }
    val modes = t.map(e => e._1 -> e._2._2).toMap
    assert(modes("sticky") == 0x200, t)
    assert(modes("sgid") == 0x400, t)
  }

  test("getFileLinkStatus: file, directory, symlink, dangling symlink, missing path") {
    val root = Files.createTempDirectory("localfs_links")
    val file = Files.write(root.resolve("file"), "12345".getBytes(UTF_8))
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val missing = root.resolve("missing")
    def probe(impl: Impl, p: Path) = {
      val fs = impl.fs()
      try Try(fs.getFileLinkStatus(p)).map(s =>
          (s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None, s.isDirectory, s.getLen))
        .toEither.left.map(e => (e.getClass, e.getMessage))
      finally fs.close()
    }
    val probed = for {
      p <- Seq(file, dir, link, dangling, missing)
      // qualified (file:/...) as FileContext passes them, and bare
      hp <- Seq(hpath(p), new Path(p.toString))
    } yield {
      val want = probe(stock, hp)
      assert(probe(forkFree, hp) == want, hp)
      want
    }
    // the cases are not all alike: links are seen, missing paths throw
    assert(probed.exists(_.exists(_._1)) && probed.exists(_.isLeft) && probed.exists(_.exists(_._3)))
  }

  test("FileContext create and rename(OVERWRITE) as a streaming checkpoint does them") {
    sameTree("fc") { (impl, root) =>
      val fc = impl.fc()
      val dir = hpath(root.resolve("offsets"))
      fc.mkdir(dir, FsPermission.getDirDefault, true)
      def put(p: Path, text: String): Unit = {
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(text.getBytes(UTF_8)) finally out.close()
      }
      for (batch <- Seq("0", "1", "1")) {
        val tmp = new Path(dir, s".$batch.tmp")
        put(tmp, s"v1\nbatch $batch")
        fc.rename(tmp, new Path(dir, batch), Options.Rename.OVERWRITE)
      }
      assert(fc.util.exists(new Path(dir, "1")))
    }
  }

  test("file: resolves to the fork-free classes by default; an explicit fs.file.impl wins") {
    val conf = new Configuration()
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext().getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    assert(ForkFreeLocalFs.effective(conf) == (classOf[ForkFreeLocalFileSystem], classOf[ForkFreeLocalFs]))

    val explicit = stock.conf("022")
    explicit.setBoolean("fs.file.impl.disable.cache", true)
    assert(ForkFreeLocalFs.effective(explicit)._1.getName == stock.fsClass)
    assert(ForkFreeLocalFs.effective(explicit)._2.getName == stock.afsClass)
    // what GraftSession logs: INFO for graft's classes, WARN for stock ones
    assert(ForkFreeLocalFs.report(conf))
    assert(!ForkFreeLocalFs.report(explicit))
  }
}
