package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem that does not fork (LocalFiles.scala) against
  * stock Hadoop: the same permission bits, the same link status, the
  * same checksum refusal — and it is what a [[Sessions.get]] session
  * resolves for `file:` on both the FileSystem and FileContext sides.
  */
class LocalFilesSpec extends SparkTestBase {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def raw(fs: RawLocalFileSystem, conf: Configuration): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def bits(p: String): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("created files and directories get stock RawLocalFileSystem's permission bits") {
    Seq(None, Some("027"), Some("077")).foreach { umask =>
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val stock = raw(new RawLocalFileSystem, conf)
      val nofork = raw(new NoForkRawLocalFileSystem, conf)
      val root = tmp("localfiles-perm")
      Seq("stock" -> stock, "nofork" -> nofork).foreach { case (n, fs) =>
        fs.mkdirs(new Path(s"$root/$n/a/b")): Unit
        fs.create(new Path(s"$root/$n/a/b/f")).close()
        fs.mkdirs(new Path(s"$root/$n/m"), new FsPermission("750")): Unit
      }
      Seq("a", "a/b", "a/b/f", "m").foreach { rel =>
        assert(bits(s"$root/nofork/$rel") == bits(s"$root/stock/$rel"),
          s"$rel under umask ${umask.getOrElse("(session)")}")
      }
    }
  }

  test("an explicit setPermission round-trips, sticky bit included") {
    val fs = raw(new NoForkRawLocalFileSystem, spark.sparkContext.hadoopConfiguration)
    val root = tmp("localfiles-chmod")
    val f = new Path(s"$root/f")
    fs.create(f).close()
    Seq("640", "755", "700", "444", "000", "777").foreach { m =>
      fs.setPermission(f, new FsPermission(m))
      assert(fs.getFileStatus(f).getPermission == new FsPermission(m), m)
    }
    // a bit java.nio cannot set goes through Hadoop's own code
    val d = new Path(s"$root/d")
    fs.mkdirs(d): Unit
    fs.setPermission(d, new FsPermission("1777"))
    assert(fs.getFileStatus(d).getPermission == new FsPermission("1777"))
  }

  test("getFileLinkStatus matches stock on a regular file and on a symlink") {
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = raw(new RawLocalFileSystem, conf)
    val nofork = raw(new NoForkRawLocalFileSystem, conf)
    val root = tmp("localfiles-link")
    Files.writeString(Paths.get(s"$root/f"), "payload")
    Files.createDirectories(Paths.get(s"$root/d"))
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/f"))
    def view(st: org.apache.hadoop.fs.FileStatus) =
      (st.getPath, st.isSymlink, st.isDirectory, st.getLen, st.getModificationTime,
        if (st.isSymlink) Some(st.getSymlink) else None)
    for (name <- Seq("f", "d", "link"); p <- Seq(new Path(s"$root/$name"),
        new Path(s"file:$root/$name"))) {
      assert(view(nofork.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), p)
    }
    assert(nofork.getFileLinkStatus(new Path(s"$root/link")).isSymlink)
    intercept[java.io.FileNotFoundException](nofork.getFileLinkStatus(new Path(s"$root/none")))
  }

  test("a corrupted .crc sidecar (or payload under an intact one) still raises ChecksumException") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = tmp("localfiles-crc")
    val p = new Path(s"file:$root/data")
    val fs = FileSystem.get(p.toUri, conf)
    assert(fs.getClass == classOf[NoForkLocalFileSystem])
    val out = fs.create(p, true)
    try out.write(Array.fill[Byte](4096)(7)) finally out.close()
    val crc = Paths.get(s"$root/.data.crc")
    assert(Files.exists(crc), "the checksummed layer wrote no sidecar")
    def refuses(): Unit =
      intercept[ChecksumException] {
        val in = fs.open(p)
        try in.readAllBytes() finally in.close()
      }: Unit
    // flip the sidecar's last checksum byte
    val good = Files.readAllBytes(crc)
    val bad = good.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 0xff).toByte
    Files.write(crc, bad)
    refuses()
    // and payload bytes flipped under an intact sidecar
    Files.write(crc, good)
    Files.write(Paths.get(s"$root/data"), Array.fill[Byte](4096)(9))
    refuses()
  }

  test("a Sessions.get session resolves file: to the non-forking classes on both sides") {
    val conf = spark.sparkContext.hadoopConfiguration
    val local = URI.create("file:///")
    assert(FileSystem.get(local, conf).getClass == classOf[NoForkLocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass ==
      classOf[NoForkLocalFs])
  }
}
