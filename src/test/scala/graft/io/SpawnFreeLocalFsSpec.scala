package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext, FileStatus, FSDataInputStream, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.{Sessions, SparkSpec}

/** The spawn-free `file:` file system behaves as Hadoop's stock one:
  * the same permissions, lengths and link status through both Hadoop
  * APIs, the same `.crc` protection, and it is what a session resolves
  * `file:` to. */
class SpawnFreeLocalFsSpec extends SparkSpec {
  private val root = new URI("file:///")

  private def tempDir(tag: String): Path =
    new Path(Files.createTempDirectory(s"graft-fs-$tag").toUri)

  /** What a scenario observed, with paths relative to its base. */
  private def describe(st: FileStatus, base: Path): String = {
    val rel = st.getPath.toUri.getPath.stripPrefix(base.toUri.getPath)
    s"$rel perm=${st.getPermission} len=${if (st.isDirectory) "-" else st.getLen} " +
      s"dir=${st.isDirectory} symlink=${st.isSymlink}"
  }

  private def attempt(step: => Any): String =
    try step.toString catch { case e: java.io.IOException => e.getClass.getSimpleName }

  /** create, mkdirs, setPermission, rename and getFileLinkStatus
    * through the `FileSystem` API. */
  private def fileSystemScenario(fs: FileSystem, base: Path): Seq[String] = {
    def write(p: Path, bytes: Int): Unit = {
      val out = fs.create(p)
      try out.write(Array.fill[Byte](bytes)(7)) finally out.close()
    }
    val a = new Path(base, "a"); val b = new Path(base, "b"); val c = new Path(base, "c")
    val dir = new Path(base, "d/e"); val priv = new Path(base, "priv")
    val sticky = new Path(base, "sticky"); val link = new Path(base, "link")
    write(a, 100); write(c, 30)
    val steps = Seq(
      "mkdirs" -> attempt(fs.mkdirs(dir)),
      "mkdirs 0700" -> attempt(fs.mkdirs(priv, new FsPermission("700"))),
      "mkdirs sticky" -> attempt(fs.mkdirs(sticky)),
      "chmod 1777" -> attempt(fs.setPermission(sticky, new FsPermission("1777"))),
      "chmod 0640" -> attempt(fs.setPermission(c, new FsPermission("640"))),
      "rename a->b" -> attempt(fs.rename(a, b)),
      "rename c->b" -> attempt(fs.rename(c, b)))
    Files.createSymbolicLink(Paths.get(link.toUri), Paths.get(b.toUri))
    val statuses = Seq(b, c, new Path(base, "d"), dir, priv, sticky, link, new Path(base, ".b.crc"))
      .map(p => attempt(describe(fs.getFileLinkStatus(p), base)))
    val missing = intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(base, "nope")))
    steps.map { case (k, v) => s"$k: $v" } ++ statuses :+ missing.getClass.getSimpleName
  }

  /** create, mkdir, rename with and without overwrite and
    * getFileLinkStatus through the `FileContext` API, the one Spark's
    * checkpoint file manager uses. */
  private def fileContextScenario(fc: FileContext, base: Path): Seq[String] = {
    import java.util.EnumSet
    def write(p: Path, bytes: Int): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      try out.write(Array.fill[Byte](bytes)(7)) finally out.close()
    }
    val a = new Path(base, "a"); val b = new Path(base, "b"); val c = new Path(base, "c")
    val dir = new Path(base, "d/e"); val link = new Path(base, "link")
    write(a, 100); write(c, 30)
    val steps = Seq(
      "mkdir" -> attempt(fc.mkdir(dir, FsPermission.getDirDefault, true)),
      "rename a->b" -> attempt(fc.rename(a, b, Options.Rename.NONE)),
      "rename c->b" -> attempt(fc.rename(c, b, Options.Rename.NONE)),
      "rename c->b overwrite" -> attempt(fc.rename(c, b, Options.Rename.OVERWRITE)))
    Files.createSymbolicLink(Paths.get(link.toUri), Paths.get(b.toUri))
    val statuses = Seq(b, c, dir, link, new Path(base, ".b.crc"))
      .map(p => attempt(describe(fc.getFileLinkStatus(p), base)))
    val missing = intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(base, "nope")))
    steps.map { case (k, v) => s"$k: $v" } ++ statuses :+ missing.getClass.getSimpleName
  }

  private def stockFileSystem(): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(root, new Configuration())
    fs
  }

  private def spawnFreeFileSystem(): FileSystem = {
    val fs = new SpawnFreeLocalFileSystem()
    fs.initialize(root, new Configuration())
    fs
  }

  test("FileSystem API: same permissions, lengths and link status as Hadoop's LocalFileSystem") {
    val stock = fileSystemScenario(stockFileSystem(), tempDir("stock"))
    val ours = fileSystemScenario(spawnFreeFileSystem(), tempDir("ours"))
    assert(ours == stock)
    // the scenario covers what it claims to
    assert(stock.exists(_.startsWith("b perm=rw-r----- len=30")), stock.mkString("\n"))
    assert(stock.exists(_.startsWith("priv perm=rwx------")), stock.mkString("\n"))
    assert(stock.exists(_.startsWith("sticky perm=rwxrwxrwt")), stock.mkString("\n"))
    assert(stock.exists(_.startsWith(".b.crc perm=rw-r-----")), stock.mkString("\n"))
  }

  test("FileContext API: same permissions, lengths and link status as Hadoop's LocalFs") {
    val conf = new Configuration()
    val stock = fileContextScenario(
      FileContext.getFileContext(AbstractFileSystem.createFileSystem(root, conf), conf),
      tempDir("fc-stock"))
    val ours = fileContextScenario(
      FileContext.getFileContext(new SpawnFreeLocalFs(root, conf), conf), tempDir("fc-ours"))
    assert(ours == stock)
    assert(stock.contains("rename c->b: FileAlreadyExistsException"), stock.mkString("\n"))
    assert(stock.exists(_.startsWith("b perm=rw-r--r-- len=30")), stock.mkString("\n"))
  }

  test("checksums: the same .crc bytes as Hadoop's, and a corrupted file fails its check") {
    def writeData(fs: FileSystem, base: Path): Array[Byte] = {
      val out = fs.create(new Path(base, "data"))
      try out.write(Array.tabulate[Byte](4096)(_.toByte)) finally out.close()
      Files.readAllBytes(Paths.get(new Path(base, ".data.crc").toUri))
    }
    val base = tempDir("crc")
    val crc = writeData(spawnFreeFileSystem(), base)
    assert(crc.nonEmpty && crc.sameElements(writeData(stockFileSystem(), tempDir("crc-stock"))))
    val file = Paths.get(new Path(base, "data").toUri)
    val bytes = Files.readAllBytes(file)
    bytes(1000) = (bytes(1000) ^ 0xff).toByte
    Files.write(file, bytes)
    // read through the FileSystem API: FileContext reads skip ChecksumFs's
    // verifier in stock Hadoop too (FilterFs.open(Path) bypasses it).
    // Quarantine is switched off so the corrupt file is not moved to a
    // bad_files directory at the top of its device.
    val fs = new SpawnFreeLocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
          sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(root, new Configuration())
    val in = fs.open(new Path(base, "data"))
    try intercept[ChecksumException] {
      val buf = new Array[Byte](8192)
      while (in.read(buf) >= 0) ()
    } finally in.close()
  }

  test("the session's Hadoop conf resolves file: to the spawn-free classes for both APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    Sessions.localFileSystemConf.foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) == v)
      assert(conf.get(k.stripPrefix("spark.hadoop.")) == v)
    }
    assert(FileSystem.get(root, conf).getClass == classOf[SpawnFreeLocalFileSystem])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass ==
      classOf[SpawnFreeLocalFs])
    // a conf built from the settings alone, as Spark builds one from
    // `spark.hadoop.*` entries
    val fresh = new Configuration()
    Sessions.localFileSystemConf.foreach { case (k, v) => fresh.set(k.stripPrefix("spark.hadoop."), v) }
    assert(FileSystem.getFileSystemClass("file", fresh) == classOf[SpawnFreeLocalFileSystem])
    assert(AbstractFileSystem.get(root, fresh).getClass == classOf[SpawnFreeLocalFs])
  }
}
