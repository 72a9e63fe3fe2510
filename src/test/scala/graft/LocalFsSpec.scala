package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream, FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The `file:` file system [[GraftSession.configure]] installs: every
  * session resolves it, its statuses and modes equal stock
  * [[RawLocalFileSystem]]'s, and its `.crc` files pass stock checks. */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")
  private def init[F <: FileSystem](fs: F): F = { fs.initialize(root, new Configuration); fs }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private lazy val dir = {
    val d = Paths.get(GraftSession.scratchDir("localfs"))
    Files.createDirectories(d.resolve("sub"))
    Files.write(d.resolve("file"), "0123456789".getBytes("UTF-8"))
    Files.createSymbolicLink(d.resolve("link"), Paths.get("file"))
    Files.createSymbolicLink(d.resolve("dangling"), Paths.get("gone"))
    d
  }
  private def path(name: String) = new Path(dir.resolve(name).toString)

  private def fields(s: FileStatus): Seq[Any] = Seq(s.getPath, s.getLen,
    s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else None,
    s.getReplication, s.getBlockSize, s.getModificationTime,
    s.getAccessTime, s.getPermission, s.getOwner, s.getGroup)

  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Integer] & 0xfff

  test("the shared session and newSession() resolve file: to the NIO classes") {
    Seq(spark, spark.newSession()).foreach { s =>
      val conf = s.sessionState.newHadoopConf()
      assert(new Path("file:///tmp").getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
      assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[NioRawLocalFileSystem])
      assert(FileContext.getFileContext(root, conf).getDefaultFileSystem
        .isInstanceOf[NioLocalFs])
    }
  }

  test("status fields equal stock for a file, a directory, a symlink and a missing path") {
    for (name <- Seq("file", "sub", "link"); p <- Seq(path(name), path(name).makeQualified(root, null))) {
      assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)), p)
      assert(nio.listStatus(p).map(fields).toSeq == stock.listStatus(p).map(fields).toSeq, p)
    }
    // stock reads links only through an unqualified path (`readlink` on
    // `new File(path.toString)`); the NIO FS also through a qualified one
    for (name <- Seq("file", "sub", "link", "dangling"); p = path(name)) {
      assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
      val q = p.makeQualified(root, null)
      assert(nio.getFileLinkStatus(q).isSymlink == Set("link", "dangling")(name), q)
    }
    assert(nio.getLinkTarget(path("link")) == stock.getLinkTarget(path("link")))
    val byName = (st: Array[FileStatus]) => st.map(fields).sortBy(_.head.toString).toSeq
    assert(byName(nio.listStatus(new Path(dir.toString))) ==
      byName(stock.listStatus(new Path(dir.toString))))
    Seq[FileSystem => Any](_.getFileStatus(path("missing")),
        _.getFileLinkStatus(path("missing")), _.listStatus(path("missing")),
        _.getFileStatus(path("dangling"))).foreach { call =>
      intercept[FileNotFoundException](call(stock))
      intercept[FileNotFoundException](call(nio))
    }
  }

  test("setPermission sets stock's mode bits, the sticky bit through chmod") {
    for (octal <- Seq("644", "700", "755", "1755")) {
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val (a, b) = (path(s"a$octal"), path(s"b$octal"))
      Seq(a, b).foreach(p => Files.createDirectories(Paths.get(p.toUri.getPath)))
      nio.setPermission(a, perm)
      stock.setPermission(b, perm)
      assert(mode(a) == mode(b) && mode(a) == Integer.parseInt(octal, 8), octal)
      assert(nio.getFileStatus(a).getPermission == perm)
    }
    // java.nio cannot set the sticky bit: 1755 came through the fallback
    assert((mode(path("a1755")) & 0x200) != 0)
  }

  test("bytes written through the session's FS pass stock checksum checks; a flipped byte fails them") {
    val conf = spark.sessionState.newHadoopConf()
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val viaFs = path("viaFs.bin")
    val viaFc = path("viaFc.bin")
    val out = FileSystem.get(root, conf).create(viaFs)
    try out.write(bytes) finally out.close()
    val fcOut = FileContext.getFileContext(root, conf)
      .create(viaFc, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try fcOut.write(bytes) finally fcOut.close()
    // stock verification; a failure report would move the file to a
    // `bad_files` dir at the top of the device, so it is switched off
    val checked = init(new LocalFileSystem {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream,
          inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean = false
    })
    def readAll(p: Path): Array[Byte] = {
      val in = checked.open(p)
      try { val buf = new Array[Byte](bytes.length); in.readFully(buf); buf }
      finally in.close()
    }
    for (p <- Seq(viaFs, viaFc)) {
      assert(Files.exists(Paths.get(checked.getChecksumFile(p).toUri.getPath)), p)
      assert(readAll(p).sameElements(bytes), p)
      val raf = new RandomAccessFile(p.toUri.getPath, "rw")
      try { raf.seek(100); raf.write(bytes(100) ^ 1) } finally raf.close()
      intercept[ChecksumException](readAll(p))
    }
  }

  test("anti-vacuity: stock returns its forking lazy status, the NIO FS a plain one") {
    val lazyStatus = "org.apache.hadoop.fs.RawLocalFileSystem$DeprecatedRawLocalFileStatus"
    assert(stock.getFileStatus(path("file")).getClass.getName == lazyStatus)
    assert(stock.listStatus(path("file")).head.getClass.getName == lazyStatus)
    val session = FileSystem.get(root, spark.sessionState.newHadoopConf())
    val statuses = nio.getFileStatus(path("file")) +:
      (session.listStatus(new Path(dir.toString)) ++ session.listStatus(path("file")))
    assert(statuses.forall(_.getClass == classOf[FileStatus]), statuses.map(_.getClass))
  }
}
