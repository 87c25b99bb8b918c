package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileStatus, FileSystem, FsConstants,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.merge.{DeleteMode, MergeApply, MergeOptions, PartitionSpec, PartitionedTarget}
import graft.pipeline.HashMode

/** [[LocalFs]]: the fork-free `file:` filesystem writes the same modes,
  * checksums and symlink answers as Hadoop's, and [[LocalFs.install]]
  * reaches the JVM-wide FileSystem cache without overriding a user's
  * choice.
  */
class LocalFsSpec extends GraftSuite {

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def fresh(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(FsConstants.LOCAL_FS_URI, conf)
    fs
  }

  /** Every path under a tree `fs` writes, relative, with its mode bits. */
  private def writeTree(fs: FileSystem): Map[String, Int] = {
    val root = Files.createTempDirectory("graft-localfs")
    def p(rel: String) = new Path(root.resolve(rel).toString)
    fs.create(p("a/b/f")).close() // parents, the file and its .crc
    fs.mkdirs(p("d"))
    fs.mkdirs(p("e"), new FsPermission("750"))
    fs.create(p("g"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
    fs.mkdirs(p("t"))
    fs.setPermission(p("t"), new FsPermission("1777")) // sticky (create and mkdirs drop it with the umask)
    // A setgid parent: a new subdirectory inherits the bit, and `chmod
    // 0755` keeps it on a directory.
    fs.mkdirs(p("s"))
    assert(new ProcessBuilder("chmod", "2775", root.resolve("s").toString).start().waitFor() == 0)
    fs.mkdirs(p("s/sub"))
    fs.create(p("s/sub/f")).close()
    Files.walk(root).iterator().asScala.filter(_ != root)
      .map(q => root.relativize(q).toString -> mode(q)).toMap
  }

  test("file and directory modes match Hadoop's LocalFileSystem, default umask and 077") {
    for (umask <- Seq("022", "077")) {
      val hadoop = writeTree(fresh(new LocalFileSystem(), umask))
      val nio = writeTree(fresh(new LocalFs(), umask))
      assert(nio === hadoop, s"umask $umask")
      // The tree exercises the cases it names: a checksum sidecar, the
      // sticky bit, the inherited setgid bit.
      assert(hadoop.contains("a/b/.f.crc") && hadoop("t") == oct("1777") &&
        (hadoop("s/sub") & oct("2000")) != 0, hadoop)
    }
    assert(writeTree(fresh(new LocalFs(), "077"))("a/b/f") == oct("600"))
  }

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  test(".crc is written and a corrupted byte still raises ChecksumException") {
    // reportChecksumFailure would move the bad file to a `bad_files`
    // directory at the top of the device; this spec pins detection only.
    val fs = new LocalFs {
      override def reportChecksumFailure(p: Path, in: org.apache.hadoop.fs.FSDataInputStream, inPos: Long,
          sums: org.apache.hadoop.fs.FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(FsConstants.LOCAL_FS_URI, new Configuration())
    val dir = Files.createTempDirectory("graft-localfs-crc")
    val f = new Path(dir.resolve("data").toString)
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val out = fs.create(f)
    out.write(bytes)
    out.close()
    assert(Files.isRegularFile(dir.resolve(".data.crc")))
    def readBack(): Array[Byte] = {
      val in = fs.open(f)
      try { val b = new Array[Byte](bytes.length); in.readFully(b); b } finally in.close()
    }
    assert(readBack().sameElements(bytes))
    val raf = new java.io.RandomAccessFile(dir.resolve("data").toFile, "rw")
    try { raf.seek(1000); raf.write(bytes(1000) ^ 0xff) } finally raf.close()
    intercept[ChecksumException](readBack())
  }

  /** The class Hadoop's service lookup picks for `file:` in this JVM. */
  private def hadoopDefault: Class[_] = FileSystem.getFileSystemClass("file", null)

  test("rename onto an existing file fails and changes nothing, as with the default file: class") {
    val dir = Files.createTempDirectory("graft-localfs-rename")
    def p(n: String) = new Path(dir.resolve(n).toString)
    val (ours, theirs) = (fresh(new LocalFs(), "022"),
      fresh(hadoopDefault.getDeclaredConstructor().newInstance().asInstanceOf[FileSystem], "022"))
    for ((fs, tag) <- Seq(ours -> "a", theirs -> "b")) {
      Seq("src", "dst").foreach { n => val o = fs.create(p(s"$tag-$n")); o.writeUTF(n); o.close() }
      assert(!fs.rename(p(s"$tag-src"), p(s"$tag-dst")), fs.getClass)
      assert(fs.exists(p(s"$tag-src")) && { val i = fs.open(p(s"$tag-dst")); try i.readUTF() finally i.close() } == "dst")
      assert(fs.rename(p(s"$tag-src"), p(s"$tag-new")) && fs.exists(p(s"$tag-new")))
      fs.mkdirs(p(s"$tag-dir"))
      assert(fs.rename(p(s"$tag-new"), p(s"$tag-dir")) && fs.exists(p(s"$tag-dir/$tag-new")), "rename into a directory")
    }
  }

  test("install is idempotent and leaves a user-set fs.file.impl alone") {
    val conf = spark.sparkContext.hadoopConfiguration
    LocalFs.install(spark)
    val installed = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
    assert(installed.isInstanceOf[LocalFs])
    assert(conf.get("fs.file.impl") == classOf[LocalFs].getName)
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[LocalAfs])
    LocalFs.install(spark)
    assert(FileSystem.get(FsConstants.LOCAL_FS_URI, conf) eq installed, "a second install swapped the cache")

    val other = classOf[RawLocalFileSystem].getName
    conf.set("fs.file.impl", other)
    try {
      installed.close() // Hadoop's default back in the cache, as in a session never installed
      assert(FileSystem.get(FsConstants.LOCAL_FS_URI, new Configuration()).getClass == hadoopDefault)
      LocalFs.install(spark)
      assert(conf.get("fs.file.impl") == other)
      assert(FileSystem.get(FsConstants.LOCAL_FS_URI, conf).getClass == hadoopDefault,
        "install swapped the cache under a user's fs.file.impl")
    } finally conf.set("fs.file.impl", classOf[LocalFs].getName)
    LocalFs.install(spark)
    assert(FileSystem.get(FsConstants.LOCAL_FS_URI, conf).isInstanceOf[LocalFs])
  }

  test("after an applyToPartitioned, FileSystem.get(file:///) is LocalFs") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val path = Files.createTempDirectory("graft-localfs-apply").resolve("t").toString
    PartitionedTarget.write((0L until 20L).map(i => (i, s"n$i")).toDF("k", "name"), path,
      PartitionSpec(Seq("k"), 4, HashMode.Xxhash64))
    FileSystem.get(FsConstants.LOCAL_FS_URI, conf).close()
    assert(FileSystem.get(FsConstants.LOCAL_FS_URI, new Configuration()).getClass == hadoopDefault)
    val r = MergeApply.applyToPartitioned(spark, path, Seq((3L, "N3"), (30L, "n30")).toDF("k", "name"),
      MergeOptions(keys = Seq("k"), delete = DeleteMode.Ignore))
    assert(r.committed && r.affectedRows === 2L)
    assert(FileSystem.get(FsConstants.LOCAL_FS_URI, conf).isInstanceOf[LocalFs])
    assert(PartitionedTarget.read(spark, path).as[(Long, String)].collect().toSet ===
      ((0L until 20L).map(i => (i, s"n$i")).toSet - ((3L, "n3")) + ((3L, "N3")) + ((30L, "n30"))))
  }

  test("getFileLinkStatus matches Hadoop's for files, directories, symlinks and missing paths") {
    val root = Files.createTempDirectory("graft-localfs-links")
    Files.write(root.resolve("f"), Array[Byte](1, 2, 3))
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("lf"), root.resolve("f"))
    Files.createSymbolicLink(root.resolve("ld"), root.resolve("d"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nowhere"))
    val hadoop = fresh(new RawLocalFileSystem(), "022")
    val nio = fresh(new NioRawLocalFileSystem(), "022")
    def shape(fs: FileSystem, p: Path): Either[String, (Boolean, Boolean, Long, String, String)] =
      try {
        val s: FileStatus = fs.getFileLinkStatus(p)
        Right((s.isDirectory, s.isSymlink, if (s.isDirectory) 0L else s.getLen,
          if (s.isSymlink) s.getSymlink.toString else "", s.getPath.toString))
      } catch { case e: java.io.IOException => Left(e.getClass.getName) }
    for (name <- Seq("f", "d", "lf", "ld", "dangling", "missing");
         p <- Seq(new Path(root.resolve(name).toString), new Path(root.resolve(name).toUri))) {
      assert(shape(nio, p) === shape(hadoop, p), p)
    }
    assert(shape(hadoop, new Path(root.resolve("lf").toString)).exists(_._2), "symlink case not exercised")

    val afsConf = new Configuration()
    afsConf.set("fs.AbstractFileSystem.file.impl", classOf[LocalAfs].getName)
    val fc = FileContext.getFileContext(afsConf)
    val plain = FileContext.getFileContext(new Configuration())
    for (name <- Seq("f", "d", "lf", "dangling")) {
      val p = new Path(root.resolve(name).toString)
      val (a, b) = (fc.getFileLinkStatus(p), plain.getFileLinkStatus(p))
      assert((a.isSymlink, a.isDirectory, a.getPath, if (a.isSymlink) a.getSymlink else null) ===
        (b.isSymlink, b.isDirectory, b.getPath, if (b.isSymlink) b.getSymlink else null), name)
    }
  }
}
