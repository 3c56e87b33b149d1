package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.ProcessStartSpec.processStarts
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus,
  FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The fork-free `file:` file systems answer exactly as Hadoop's own
  * local ones, and the session really uses them. */
class LocalFilesSpec extends SparkSpec {

  private val fileUri = URI.create("file:///")

  private def sessionConf(umask: Option[String]): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    conf
  }

  /** The same conf with Hadoop's own local file systems. */
  private def hadoopConf(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    c
  }

  /** Mode (with sticky/setuid bits) of every entry under `root`, by
    * relative path. */
  private def modes(root: NioPath): Map[String, Int] =
    Files.walk(root).iterator().asScala.filterNot(_ == root).map { p =>
      root.relativize(p).toString ->
        Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue
    }.toMap

  /** The files and dirs a run of the engine makes, through a FileSystem
    * and a FileContext over `conf`, under `root`. */
  private def makeAll(conf: Configuration, root: NioPath): Unit = {
    val base = new Path(root.toUri)
    val fs = FileSystem.newInstance(fileUri, conf)
    try {
      fs.create(new Path(base, "fs/a/data.bin")).close()
      fs.create(new Path(base, "fs/perm.bin"), new FsPermission("640"), true, 4096,
        1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(base, "fs/d1/d2"))
      fs.mkdirs(new Path(base, "fs/d3"), new FsPermission("750"))
      FileSystem.create(fs, new Path(base, "fs/abs.bin"), new FsPermission("600")).close()
    } finally fs.close()
    val fc = FileContext.getFileContext(fileUri, conf)
    fc.create(new Path(base, "fc/a/log.json"),
      java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent()).close()
    fc.mkdir(new Path(base, "fc/d1/d2"), FsPermission.getDirDefault, true)
    fc.mkdir(new Path(base, "fc/d3"), new FsPermission("700"), true)
  }

  for (umask <- Seq(None, Some("077")))
    test(s"files and dirs get Hadoop's modes (umask ${umask.getOrElse("default")})") {
      val conf = sessionConf(umask)
      val root = Files.createTempDirectory("graft-localfiles")
      makeAll(conf, Files.createDirectory(root.resolve("graft")))
      makeAll(hadoopConf(conf), Files.createDirectory(root.resolve("hadoop")))
      val (got, want) = (modes(root.resolve("graft")), modes(root.resolve("hadoop")))
      assert(got.keySet.exists(_.endsWith(".crc")) && got.size == want.size)
      assert(got == want)
      if (umask.isDefined) assert(got.values.forall(m => (m & 0x3f) == 0))
    }

  test("a sticky-bit setPermission takes Hadoop's path and gives Hadoop's mode") {
    val root = Files.createTempDirectory("graft-localfiles")
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val conf = sessionConf(None)
    def stick(c: Configuration, name: String): Int = {
      val dir = Files.createDirectory(root.resolve(name))
      val fs = FileSystem.newInstance(fileUri, c)
      try fs.setPermission(new Path(dir.toUri), sticky) finally fs.close()
      Files.getAttribute(dir, "unix:mode").asInstanceOf[Integer].intValue
    }
    var got = 0
    val started = processStarts { got = stick(conf, "graft") }
    assert(started.exists(_.startsWith("chmod")), started)
    assert(got == stick(hadoopConf(conf), "hadoop"))
    assert((got & Integer.parseInt("7777", 8)) == Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus equals Hadoop's on a file, a dir and a symlink") {
    val root = Files.createTempDirectory("graft-localfiles")
    val file = Files.write(root.resolve("f.txt"), "abc".getBytes(UTF_8))
    val dir = Files.createDirectory(root.resolve("d"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val conf = sessionConf(None)
    val graftFs = FileSystem.newInstance(fileUri, conf)
    val hadoopFs = FileSystem.newInstance(fileUri, hadoopConf(conf))
    val graftFc = FileContext.getFileContext(fileUri, conf)
    val hadoopFc = FileContext.getFileContext(fileUri, hadoopConf(conf))
    def shape(s: FileStatus): String =
      Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else "", s.getLen, s.getModificationTime,
        s.getPermission, s.getOwner, s.getGroup).mkString("|")
    try {
      for (p <- Seq(file, dir, link); path <- Seq(new Path(p.toUri), new Path(p.toString))) {
        assert(shape(graftFs.getFileLinkStatus(path)) == shape(hadoopFs.getFileLinkStatus(path)),
          path)
        assert(shape(graftFc.getFileLinkStatus(path)) == shape(hadoopFc.getFileLinkStatus(path)),
          path)
      }
      val missing = new Path(root.resolve("missing").toUri)
      intercept[FileNotFoundException](graftFs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](graftFc.getFileLinkStatus(missing))
    } finally { graftFs.close(); hadoopFs.close() }
  }

  test("FileContext rename: no overwrite refuses and keeps both; OVERWRITE moves the .crc") {
    val root = Files.createTempDirectory("graft-localfiles")
    val fc = FileContext.getFileContext(fileUri, sessionConf(None))
    def write(name: String, body: String): Path = {
      val p = new Path(root.resolve(name).toUri)
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
      try out.write(body.getBytes(UTF_8)) finally out.close()
      p
    }
    def read(p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    val (a, b) = (write("a", "first"), write("b", "second"))
    intercept[FileAlreadyExistsException](fc.rename(a, b))
    assert(read(a) == "first" && read(b) == "second")
    fc.rename(a, b, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(a) && !Files.exists(root.resolve(".a.crc")))
    assert(Files.exists(root.resolve(".b.crc")))
    // Reading through the checksum layer verifies b against the moved .crc.
    assert(read(b) == "first")
  }

  test("the session's file: FileSystem and FileContext are the graft classes") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path("file:///tmp").getFileSystem(conf)
    assert(fs.isInstanceOf[LocalFiles.LocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFiles.LocalFileSystem].getRaw
      .isInstanceOf[LocalFiles.RawLocalFileSystem])
    val afs = FileContext.getFileContext(fileUri, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFiles.LocalFs], afs.getClass)
  }
}
