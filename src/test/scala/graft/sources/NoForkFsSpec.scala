package graft.sources

import java.net.URI
import java.nio.file.attribute.PosixFilePermission._
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, Path => HPath}

import graft.SparkSpec

/** The fork-free local filesystem must actually be the filesystem the
  * session resolves for `file:` — both API families — and must apply
  * permission bits without a subprocess. */
class NoForkFsSpec extends SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  test("fs.file.impl resolves to the fork-free raw local FS") {
    // SessionTuning overrides NoForkFs's checksummed default with the
    // raw (sidecar-free) variant — see the measurement note there.
    // Either class is fork-free; the session must resolve the raw one.
    val fs = FileSystem.get(new URI("file:///"), hconf)
    assert(fs.isInstanceOf[NoForkRawLocalFileSystem])
  }

  test("fs.AbstractFileSystem.file.impl (FileContext path) resolves to NoForkLocalFs") {
    val afs = AbstractFileSystem.get(new URI("file:///"), hconf)
    assert(afs.isInstanceOf[NoForkLocalFs])
  }

  test("setPermission applies group/other bits via NIO (the exec'd-chmod case)") {
    val dir = Files.createTempDirectory("nofork")
    val f = dir.resolve("x.bin")
    Files.write(f, Array[Byte](1, 2, 3))
    val fs = FileSystem.get(new URI("file:///"), hconf)
    // 0640: owner/group bits differ — the case Hadoop's java.io
    // fallback cannot express and shells out to chmod for
    fs.setPermission(new HPath(f.toUri), new FsPermission("640"))
    val got = Files.getPosixFilePermissions(f)
    assert(got.contains(OWNER_READ) && got.contains(OWNER_WRITE))
    assert(got.contains(GROUP_READ) && !got.contains(GROUP_WRITE))
    assert(!got.contains(OTHERS_READ))
    fs.setPermission(new HPath(dir.resolve("missing").toUri),
      new FsPermission("640")) // racing delete: must not throw
    Files.delete(f); Files.delete(dir)
  }

  test("getFileStatus of a path under a regular file is FileNotFound") {
    // readAttributes throws FileSystemException("Not a directory") here,
    // not NoSuchFileException: exists() must still answer false
    val dir = Files.createTempDirectory("noforkfnf")
    val plain = Files.write(dir.resolve("plainfile"), Array[Byte](1))
    val child = new HPath(plain.resolve("child").toUri)
    val fs = FileSystem.get(new URI("file:///"), hconf)
    intercept[java.io.FileNotFoundException](fs.getFileStatus(child))
    assert(!fs.exists(child))
    Files.delete(plain); Files.delete(dir)
  }

  test("getFileLinkStatus answers without readlink and matches Hadoop's; " +
    "a FileContext rename goes through NoForkLocalFs") {
    val dir = Files.createTempDirectory("noforklink")
    val plain = Files.write(dir.resolve("plain"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(dir.resolve("link"), plain)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("gone"))
    val fs = FileSystem.get(new URI("file:///"), hconf)
    val hadoop = new org.apache.hadoop.fs.RawLocalFileSystem()
    hadoop.initialize(new URI("file:///"), hconf)
    // Hadoop's forking version sees links only on scheme-less paths
    // (it hands "file:/…" to readlink verbatim); compare there, and
    // check the qualified form answers the same
    Seq(plain, link, dangling).foreach { p =>
      val want = hadoop.getFileLinkStatus(new HPath(p.toString))
      Seq(new HPath(p.toString), new HPath(p.toUri)).foreach { hp =>
        val got = fs.getFileLinkStatus(hp)
        assert(got.isSymlink == want.isSymlink, hp)
        assert(got.getLen == want.getLen && got.isFile == want.isFile, hp)
        if (want.isSymlink) assert(got.getSymlink == want.getSymlink, hp)
      }
    }
    assert(!fs.getFileLinkStatus(new HPath(plain.toUri)).isSymlink)
    assert(fs.getFileLinkStatus(new HPath(link.toUri)).getSymlink ==
      new HPath(plain.toUri))
    // the streaming metadata logs' rename path: FileContext over the
    // AbstractFileSystem binding asks for link status of source and
    // destination
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(hconf)
    val src = dir.resolve("batch.tmp"); Files.write(src, Array[Byte](7))
    val dst = dir.resolve("batch")
    fc.rename(new HPath(src.toUri), new HPath(dst.toUri))
    assert(!Files.exists(src) && Files.readAllBytes(dst).toSeq == Seq[Byte](7))
    Seq(dst, dangling, link, plain).foreach(Files.delete)
    Files.delete(dir)
  }

  test("posixPerms decodes all nine bits") {
    assert(NoForkFs.posixPerms(Integer.parseInt("755", 8).toShort)
      === java.util.EnumSet.of(OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
        GROUP_READ, GROUP_EXECUTE, OTHERS_READ, OTHERS_EXECUTE))
    assert(NoForkFs.posixPerms(0) === java.util.EnumSet.noneOf(
      classOf[PosixFilePermission]))
  }

  test("parquet round-trip and mkdirs go through the no-fork FS") {
    val dir = Files.createTempDirectory("noforkpq").resolve("t")
    spark.range(100).toDF("id").write.parquet(dir.toString)
    assert(spark.read.parquet(dir.toString).count() === 100L)
    graft.operators.VersionedTable.destroy(dir.toString)
    Files.deleteIfExists(Paths.get(dir.getParent.toString))
  }

  private type PosixFilePermission = java.nio.file.attribute.PosixFilePermission
}
