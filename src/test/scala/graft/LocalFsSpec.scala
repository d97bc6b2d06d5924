package graft

import java.io.{File, FileNotFoundException, RandomAccessFile}
import java.nio.file.Files
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FsConstants, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.IOUtils
import org.scalatest.funsuite.AnyFunSuite
import graft.util.LocalFs

/** [[graft.util.LocalFs]], the `file:` FileContext filesystem that
  * [[Engine.tune]] installs: it behaves as Hadoop's stock `LocalFs` does,
  * and the streaming checkpoints written through it start no processes. */
class LocalFsSpec extends AnyFunSuite {

  private def fileContext(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set(LocalFs.ImplKey, impl)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }

  private def withTempDir[T](body: File => T): T = {
    val d = Files.createTempDirectory("graft_localfs").toFile
    try body(d) finally FileUtils.deleteDirectory(d)
  }

  /** Creates, renames and deletes through `fc` under `root`, checks each
    * failure mode, and returns (name, length, isDirectory, permission)
    * for every entry left, sidecars included. */
  private def exercise(fc: FileContext, root: File): Seq[(String, Long, Boolean, Short)] = {
    val dir = new Path(root.toURI.toString, "d")
    def write(name: String, body: String, mode: Int): Path = {
      val p = new Path(dir, name)
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(new FsPermission(mode.toShort)), Options.CreateOpts.createParent())
      try out.write(body.getBytes("UTF-8")) finally out.close()
      p
    }
    fc.mkdir(dir, new FsPermission(Integer.parseInt("750", 8).toShort), true)
    val a = write("a", "alpha " * 200, Integer.parseInt("640", 8))
    val b = write("b", "beta", Integer.parseInt("644", 8))
    fc.rename(a, b, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(a))
    val c = write("c", "gamma", Integer.parseInt("600", 8))
    intercept[FileAlreadyExistsException](fc.rename(c, b))
    val e = write("e", "epsilon", Integer.parseInt("644", 8))
    fc.rename(c, new Path(dir, "moved"))
    assert(fc.delete(e, false))
    fc.setPermission(b, new FsPermission(Integer.parseInt("604", 8).toShort))
    val sticky = new Path(dir, "sticky")
    fc.mkdir(sticky, new FsPermission(Integer.parseInt("755", 8).toShort), false)
    fc.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
    val missing = new Path(dir, "missing")
    intercept[FileNotFoundException](fc.getFileStatus(missing))
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fc.open(missing))
    // every data file carries a checksum sidecar
    Seq("b", "moved").foreach(n => assert(new File(root, s"d/.$n.crc").isFile, n))
    assert(fc.getFileLinkStatus(b).getLen === ("alpha " * 200).length)
    val rows = new File(root, "d").listFiles().toSeq.sortBy(_.getName).map { f =>
      val st = fc.getFileLinkStatus(new Path(dir, f.getName))
      (f.getName, if (st.isDirectory) 0L else st.getLen, st.isDirectory, st.getPermission.toShort)
    }
    // a flipped byte in the data fails the read against its sidecar;
    // ChecksumFs verifies only open(path, bufferSize): FilterFs passes
    // open(path) straight to the raw filesystem
    val raf = new RandomAccessFile(new File(root, "d/b"), "rw")
    try { raf.seek(7); val x = raf.read(); raf.seek(7); raf.write(x ^ 0xff) } finally raf.close()
    intercept[ChecksumException] {
      val in = fc.open(b, 4096)
      try IOUtils.readFully(in, new Array[Byte](1200), 0, 1200) finally in.close()
    }
    rows
  }

  test("LocalFs matches Hadoop's LocalFs: layout, sidecars, permissions and failures") {
    val stock = withTempDir(d => exercise(fileContext(LocalFs.HadoopDefault), d))
    val graft = withTempDir(d => exercise(fileContext(classOf[LocalFs].getName), d))
    assert(fileContext(classOf[LocalFs].getName).getDefaultFileSystem.isInstanceOf[LocalFs])
    assert(stock.map(_._1) === Seq(".b.crc", ".moved.crc", "b", "moved", "sticky"))
    assert(graft === stock)
    val perms = graft.map(r => r._1 -> Integer.toOctalString(r._4)).toMap
    assert(perms("b") === "604" && perms("moved") === "600" && perms("sticky") === "1777")
  }

  test("LocalFs checks the sidecar on a one-argument open too") {
    withTempDir { root =>
      val fc = fileContext(classOf[LocalFs].getName)
      val p = new Path(root.toURI.toString, "f")
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      try out.write(("alpha " * 200).getBytes("UTF-8")) finally out.close()
      val raf = new RandomAccessFile(new File(root, "f"), "rw")
      try { raf.seek(7); val x = raf.read(); raf.seek(7); raf.write(x ^ 0xff) } finally raf.close()
      // the call Spark's checkpoint file manager makes
      intercept[ChecksumException] {
        val in = fc.open(p)
        try IOUtils.readFully(in, new Array[Byte](1200), 0, 1200) finally in.close()
      }
    }
  }

  test("streaming checkpoints start no readlink or chmod process") {
    val spark = Engine.tune(SparkTestSession.spark)
    assert(spark.conf.get(LocalFs.ImplKey) === classOf[LocalFs].getName)
    val r = new Recording()
    r.enable("jdk.ProcessStart").withoutStackTrace()
    r.start()
    try {
      // a process this test starts itself: the recording sees forks
      new ProcessBuilder("true").start().waitFor()
      Seq("q_stream_window", "q_stream_stream_join")
        .foreach(q => SparkEntry.queries(q)(spark, SparkTestSession.Sf).collect())
    } finally r.stop()
    val jfr = Files.createTempFile("graft_forks", ".jfr")
    try {
      r.dump(jfr)
      val commands = RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      def program(c: String) = c.takeWhile(_ != ' ').split('/').last
      assert(commands.exists(program(_) == "true"), "the recording missed the control process")
      // each drain checkpoints to <tmp>/graft-stream-<n>/ckpt
      val forks = commands.filter { c =>
        Set("readlink", "chmod")(program(c)) &&
          c.matches(""".*/graft-stream-[^/ ]*/ckpt([/ ].*)?""")
      }
      assert(forks.isEmpty, s"${forks.size} checkpoint forks, first: ${forks.take(3)}")
    } finally { r.close(); Files.deleteIfExists(jfr) }
  }
}
