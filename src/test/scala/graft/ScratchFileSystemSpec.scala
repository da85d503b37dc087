package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ScratchFileSystem
import graft.testkit.SparkTestKit.tempDir

/** [[ScratchFileSystem]] must leave every file exactly as Hadoop's own
  * local filesystem leaves it: it only sets the mode without a fork. */
class ScratchFileSystemSpec extends AnyFunSuite {

  private def opened[F <: FileSystem](fs: F, umask: String = "022"): F = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def mode(path: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(path)))

  test("setPermission gives the modes Hadoop's chmod gives") {
    val dir = tempDir("scratch_fs_modes")
    val (hadoop, ours) = (opened(new RawLocalFileSystem), opened(new ScratchFileSystem))
    val set = new AtomicInteger
    ScratchFileSystem.onModeSet = _ => set.incrementAndGet()
    try Seq("644", "755", "600", "777", "000").foreach { octal =>
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val (a, b) = (s"$dir/hadoop_$octal", s"$dir/ours_$octal")
      Seq(a, b).foreach(f => Files.write(Paths.get(f), Array[Byte](1)))
      hadoop.setPermission(new Path(a), perm)
      ours.setPermission(new Path(b), perm)
      assert(mode(a) == perm.toString, octal)
      assert(mode(b) == mode(a), octal)
    } finally ScratchFileSystem.onModeSet = _ => ()
    assert(set.get() >= 5, "a mode went through the forking path")
  }

  test("create and mkdirs give the modes LocalFileSystem gives, under each umask") {
    Seq("022", "027", "077").foreach { umask =>
      val dir = tempDir(s"scratch_fs_umask_$umask")
      val fss = Map("hadoop" -> opened(new LocalFileSystem, umask),
        "ours" -> opened(new ScratchFileSystem, umask))
      fss.foreach { case (name, fs) =>
        val out = fs.create(new Path(s"$dir/$name/made/file"))
        out.write(1)
        out.close()
        assert(fs.mkdirs(new Path(s"$dir/$name/dirs/a/b")))
      }
      val made = Seq("made", "made/file", "made/.file.crc", "dirs", "dirs/a",
        "dirs/a/b")
      made.foreach(rel =>
        assert(mode(s"$dir/ours/$rel") == mode(s"$dir/hadoop/$rel"),
          s"$rel under umask $umask"))
      assert(mode(s"$dir/ours/made/file") ==
        FsPermission.getFileDefault.applyUMask(new FsPermission(umask)).toString)
    }
  }
}
