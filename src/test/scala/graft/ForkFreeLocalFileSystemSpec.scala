package graft

import graft.table.{ForkFreeLocalFileSystem, ForkFreeRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.graftbridge.WriteBridge

import java.nio.file.{Files, Paths}

/** The fork-free `file:` filesystem must be indistinguishable from Hadoop's
  * default LocalFileSystem on disk: same mode bits on files and directories,
  * the same `.crc` sidecars and verified reads. Only how the bits are set
  * differs (java.nio instead of a forked chmod).
  */
class ForkFreeLocalFileSystemSpec extends SparkSpecBase {

  private def init(fs: FileSystem): FileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def crc(p: String): String = {
    val f = Paths.get(p)
    f.resolveSibling(s".${f.getFileName}.crc").toString
  }

  test("files and directories get the default filesystem's permission bits") {
    val root = tmpDir("ffs-perm")
    val payload = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val made = Seq("default" -> init(new LocalFileSystem), "forkfree" -> init(new ForkFreeLocalFileSystem))
      .map { case (name, fs) =>
        val dir = s"$root/$name"
        assert(fs.mkdirs(new Path(s"$dir/sub"), new FsPermission("750")))
        val out = fs.create(new Path(s"$dir/f.bin"))
        out.write(payload)
        out.close()
        fs.create(new Path(s"$dir/g.bin")).close()
        fs.setPermission(new Path(s"$dir/g.bin"), new FsPermission("604"))
        name -> Seq(s"$dir/sub", s"$dir/f.bin", crc(s"$dir/f.bin"), s"$dir/g.bin", crc(s"$dir/g.bin"))
      }.toMap
    made("forkfree").foreach(p => assert(Files.exists(Paths.get(p)), s"$p missing"))
    assert(made("forkfree").map(mode) == made("default").map(mode),
      s"modes differ: ${made("forkfree").map(mode(_).toOctalString)} vs " +
        made("default").map(mode(_).toOctalString))
  }

  test("files keep their .crc sidecar and read back with checksum verification") {
    val fs = init(new ForkFreeLocalFileSystem)
    val file = s"${tmpDir("ffs-crc")}/data.bin"
    val payload = Array.tabulate[Byte](8192)(i => (i * 7).toByte)
    val out = fs.create(new Path(file))
    out.write(payload)
    out.close()
    assert(Files.exists(Paths.get(crc(file))))
    val back = new Array[Byte](payload.length)
    val in = fs.open(new Path(file))
    try in.readFully(back) finally in.close()
    assert(back.sameElements(payload))
    // flip one byte behind the filesystem's back: the verified read refuses it
    val raw = Files.readAllBytes(Paths.get(file))
    raw(100) = (raw(100) ^ 0xff).toByte
    Files.write(Paths.get(file), raw)
    intercept[ChecksumException] {
      val in2 = fs.open(new Path(file))
      try in2.readFully(new Array[Byte](payload.length)) finally in2.close()
    }
  }

  test("a sticky-bit permission falls back to the parent implementation") {
    val fs = init(new ForkFreeLocalFileSystem)
    val dir = s"${tmpDir("ffs-sticky")}/shared"
    assert(fs.mkdirs(new Path(dir)))
    fs.setPermission(new Path(dir), new FsPermission("1777"))
    assert(mode(dir) == Integer.parseInt("1777", 8), mode(dir).toOctalString)
  }

  test("the task writer's Hadoop conf and the write options resolve file: to the fork-free class") {
    val schema = graft.model.Model.changeEventSchema
    val fromWriter = new Path("file:/tmp/x").getFileSystem(
      WriteBridge.parquetWriterFactory(spark, schema).hadoopConf)
    val opts = new Configuration()
    ForkFreeLocalFileSystem.conf.foreach { case (k, v) => opts.set(k, v) }
    Seq(fromWriter, new Path("file:/tmp/x").getFileSystem(opts)).foreach { fs =>
      assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    }
  }
}
