package graft.pipeline

import graft.{Probe, TempDirs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

/** Differential checks of [[NoForkLocalFileSystem]] against Hadoop's forking local
  * FileSystem: the same modes on every path it sets or creates, and no process started.
  */
class NoForkLocalFileSystemSpec extends AnyFunSuite with TempDirs {

  private def init[F <: FileSystem](fs: F, umask: String = "022"): F = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def perms(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def unixMode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def hp(p: JPath) = new Path(p.toUri)

  test("setPermission leaves the modes chmod leaves for every mode 0000-0777, forking nothing") {
    val dir = tempDir("nofork_modes")
    val Seq(ourFile, refFile) = Seq("a", "b").map(n => Files.createFile(dir.resolve(n)))
    val Seq(ourDir, refDir) = Seq("da", "db").map(n => Files.createDirectory(dir.resolve(n)))
    val ours = init(new NoForkLocalFileSystem.Raw)
    val ref = init(new RawLocalFileSystem)
    def sweep(fs: FileSystem, file: JPath, d: JPath): Seq[(String, String)] = (0 to 0x1ff).map { m =>
      val perm = new FsPermission(m.toShort)
      fs.setPermission(hp(file), perm)
      fs.setPermission(hp(d), perm)
      (perms(file), perms(d))
    }
    val (got, forks) = Probe.processStarts(sweep(ours, ourFile, ourDir))
    assert(forks.isEmpty, s"${forks.size} processes started, e.g. ${forks.take(3).mkString("; ")}")
    val want = sweep(ref, refFile, refDir)
    got.zip(want).zipWithIndex.foreach { case ((g, w), m) => assert(g == w, f"mode 0$m%03o") }
    Seq(ourDir, refDir).foreach(d => Files.setPosixFilePermissions(d, PosixFilePermissions.fromString("rwx------")))
  }

  test("a sticky-bit mode takes Hadoop's own path and sets the same mode") {
    val dir = tempDir("nofork_sticky")
    val Seq(ourDir, refDir) = Seq("da", "db").map(n => Files.createDirectory(dir.resolve(n)))
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val (_, forks) = Probe.processStarts(init(new NoForkLocalFileSystem.Raw).setPermission(hp(ourDir), sticky))
    init(new RawLocalFileSystem).setPermission(hp(refDir), sticky)
    assert(forks.exists(_.startsWith("chmod")), s"delegated, so Hadoop forks chmod: $forks")
    assert(unixMode(ourDir) == Integer.parseInt("1777", 8) && unixMode(ourDir) == unixMode(refDir))
    assert(perms(ourDir) == perms(refDir))
  }

  test("a missing path throws IOException from both") {
    val missing = hp(tempDir("nofork_missing").resolve("absent"))
    val perm = new FsPermission("644")
    intercept[IOException](init(new NoForkLocalFileSystem.Raw).setPermission(missing, perm))
    intercept[IOException](init(new RawLocalFileSystem).setPermission(missing, perm))
  }

  test("mkdirs and create give the default LocalFileSystem's modes under umask 022 and 027") {
    for (umask <- Seq("022", "027")) {
      val dir = tempDir(s"nofork_umask$umask")
      def make(fs: FileSystem, root: JPath): Seq[JPath] = {
        fs.mkdirs(hp(root.resolve("x/y")), new FsPermission("750"))
        fs.mkdirs(hp(root.resolve("plain")))
        fs.create(hp(root.resolve("x/f")), new FsPermission("640"), true, 4096, 1.toShort,
          1L << 20, null).close()
        fs.create(hp(root.resolve("plain/g"))).close()
        Seq("x", "x/y", "plain", "x/f", "x/.f.crc", "plain/g", "plain/.g.crc").map(root.resolve)
      }
      val (got, forks) = Probe.processStarts(make(init(new NoForkLocalFileSystem, umask), dir.resolve("ours")))
      val want = make(init(new LocalFileSystem, umask), dir.resolve("ref"))
      assert(forks.isEmpty, s"umask $umask: ${forks.size} processes started")
      got.zip(want).foreach { case (g, w) =>
        assert(perms(g) == perms(w), s"umask $umask: ${dir.relativize(g)} vs ${dir.relativize(w)}")
      }
      assert(perms(dir.resolve("ours/plain")) == (if (umask == "022") "rwxr-xr-x" else "rwxr-x---"))
    }
  }
}
