package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, ChecksumFs,
  CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

/** The session's local file system ([[ForkFreeLocalFileSystem]] and
  * [[ForkFreeLocalFs]], installed by [[GraftSession.builder]]) keeps
  * Hadoop's semantics: the modes it sets are exactly the stock ones, modes
  * beyond `0777` still work, and checksums are still written and verified. */
class ForkFreeLocalFsSpec extends SparkSpec {
  private val Local = URI.create("file:///")
  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def mode(p: Path): Int =
    Files.getAttribute(java.nio.file.Paths.get(p.toUri.getPath), "unix:mode")
      .asInstanceOf[Int] & 0xfff

  private def octal(s: String): FsPermission =
    new FsPermission(Integer.parseInt(s, 8).toShort)

  private def tmp(prefix: String): Path =
    new Path("file://" + Files.createTempDirectory(prefix))

  /** Flip one byte of a written file behind the file system's back. */
  private def corrupt(p: Path, at: Long): Unit = {
    val f = new RandomAccessFile(p.toUri.getPath, "rw")
    try { f.seek(at); val b = f.read(); f.seek(at); f.write(b ^ 0xff) }
    finally f.close()
  }

  test("file:// resolves to graft's classes on both Hadoop file APIs") {
    val fs = FileSystem.get(Local, hadoopConf)
    assert(fs.getClass === classOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ===
      classOf[ForkFreeRawLocalFileSystem])
    val afs = AbstractFileSystem.get(Local, hadoopConf)
    assert(afs.getClass === classOf[ForkFreeLocalFs])
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.getClass === classOf[ForkFreeRawLocalFs])
  }

  test("files and dirs get exactly the modes Hadoop's stock LocalFileSystem gives") {
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration(hadoopConf)
      conf.set("fs.permissions.umask-mode", umask)
      val graftFs = FileSystem.newInstance(Local, conf)
      assert(graftFs.getClass === classOf[ForkFreeLocalFileSystem])
      val stockFs = new LocalFileSystem()
      stockFs.initialize(Local, conf)
      val graftFc = FileContext.getFileContext(conf)
      val stockConf = new Configuration(conf)
      stockConf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
      val stockFc = FileContext.getFileContext(stockConf)

      def populate(fs: FileSystem, fc: FileContext, dir: Path): Unit = {
        fs.create(new Path(dir, "f")).close()
        fs.create(new Path(dir, "g"), octal("640"), true, 4096, 1.toShort,
          fs.getDefaultBlockSize(dir), null).close()
        fs.mkdirs(new Path(dir, "d/e"))
        fs.mkdirs(new Path(dir, "m"), octal("750"))
        fc.create(new Path(dir, "c"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
        fc.mkdir(new Path(dir, "k/l"), FsPermission.getDirDefault, true)
      }
      val (a, b) = (tmp("ffgraft"), tmp("ffstock"))
      populate(graftFs, graftFc, a)
      populate(stockFs, stockFc, b)
      val entries = Seq("f", ".f.crc", "g", ".g.crc", "d", "d/e", "m",
        "c", ".c.crc", "k", "k/l")
      val got = entries.map(e => e -> mode(new Path(a, e)))
      assert(got === entries.map(e => e -> mode(new Path(b, e))), s"umask $umask")
      val um = Integer.parseInt(umask, 8)
      assert(mode(new Path(a, "f")) === (0x1b6 & ~um)) // 0666 under the umask
      assert(mode(new Path(a, "d/e")) === (0x1ff & ~um)) // 0777 under the umask
      graftFs.close(); stockFs.close()
    }
  }

  test("setPermission applies plain modes and, through Hadoop, a sticky bit") {
    val fs = FileSystem.get(Local, hadoopConf)
    val dir = tmp("ffsticky")
    val f = new Path(dir, "f")
    fs.create(f).close()
    fs.setPermission(f, octal("604"))
    assert(mode(f) === Integer.parseInt("604", 8))
    val d = new Path(dir, "shared")
    fs.mkdirs(d)
    fs.setPermission(d, octal("1755"))
    assert(mode(d) === Integer.parseInt("1755", 8))
    assert(fs.getFileStatus(d).getPermission.getStickyBit)
  }

  test("a flipped byte fails the checksum of a file written through either API") {
    val dir = tmp("ffcrc")
    val data = Array.tabulate[Byte](1024)(i => (i * 31).toByte)
    def readBack(open: => java.io.InputStream): Unit = {
      val in = open
      try new java.io.DataInputStream(in).readFully(new Array[Byte](data.length))
      finally in.close()
    }

    val fs = FileSystem.get(Local, hadoopConf)
    val p = new Path(dir, "fs.bin")
    val out = fs.create(p)
    out.write(data); out.close()
    assert(Files.exists(java.nio.file.Paths.get(dir.toUri.getPath, ".fs.bin.crc")))
    readBack(fs.open(p))
    corrupt(p, 600)
    intercept[ChecksumException](readBack(fs.open(p)))

    // FileContext writes the .crc; its open(Path) reads unverified, as with
    // Hadoop's own LocalFs (FilterFs forwards it to the raw file system),
    // so the written checksum is checked through the FileSystem side.
    val fc = FileContext.getFileContext(hadoopConf)
    val q = new Path(dir, "fc.bin")
    val out2 = fc.create(q, java.util.EnumSet.of(CreateFlag.CREATE))
    out2.write(data); out2.close()
    assert(Files.exists(java.nio.file.Paths.get(dir.toUri.getPath, ".fc.bin.crc")))
    readBack(fs.open(q))
    corrupt(q, 900)
    intercept[ChecksumException](readBack(fs.open(q)))
  }
}
