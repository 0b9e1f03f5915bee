package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.io.{ForkFreeLocalFileSystem, ForkFreeRawLocalFileSystem, LocalFs}
import graft.streaming.{FraudPipeline, VelocityDetector}

/** [[LocalFs]] against Hadoop's stock local filesystem: the same modes,
  * the same link status, the same checkpoint and sink files, and no
  * process spawned by a stream run. */
class LocalFsSpec extends SparkSpec {
  import VelocityDetector.Txn

  /** Hadoop's stock bindings. A session's own conf overrides its
    * SparkContext's Hadoop conf, so a session holding these runs the stock
    * path although [[LocalFs.install]] bound the context. */
  private val Stock = Seq(
    "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs",
    "fs.file.impl" -> "org.apache.hadoop.fs.LocalFileSystem",
    "fs.file.impl.disable.cache" -> "false")

  private def stockSession(): SparkSession = {
    val s = spark.newSession()
    Stock.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def hadoopConf(bound: Boolean, umask: String = "022"): Configuration = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    (if (bound) LocalFs.Bindings else Stock).foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  private def localFs(bound: Boolean, conf: Configuration): LocalFileSystem = {
    val fs = if (bound) new ForkFreeLocalFileSystem else new LocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Every mode bit Linux stores, setuid/setgid/sticky included. */
  private def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  /** Relative path → mode of everything under `root`, with the random
    * UUIDs in file names (parquet parts, state schema files) masked. */
  private def tree(root: NioPath): Map[String, Int] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root)
      .map(p => root.relativize(p).toString.replaceAll(uuid, "<uuid>") -> mode(p)).toMap
    finally walk.close()
  }

  private val Modes = Seq("600", "644", "700", "755", "777")

  private val Payload = Array.tabulate[Byte](1500)(_.toByte) // three 512-byte checksum chunks

  /** Through both Hadoop APIs, writes a file and creates a directory at
    * each mode, and sets each mode on an existing file; returns the mode
    * and the bytes (of files) of everything left. */
  private def modesLeft(bound: Boolean, umask: String): Map[String, (Int, Seq[Byte])] = {
    val conf = hadoopConf(bound, umask)
    val (fs, fc) = (localFs(bound, conf), FileContext.getFileContext(conf))
    val dir = Files.createTempDirectory("localfs_modes")
    for (m <- Modes) {
      val perm = new FsPermission(m)
      def at(name: String) = new Path(dir.resolve(name + m).toUri)
      val out = fs.create(at("fs_file"), perm, false, 4096, 1.toShort, 1L << 20, null)
      try out.write(Payload) finally out.close()
      fs.mkdirs(at("fs_dir"), perm)
      val fcOut = fc.create(at("fc_file"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm))
      try fcOut.write(Payload) finally fcOut.close()
      fc.mkdir(at("fc_dir"), perm, false)
      Files.createFile(dir.resolve("set" + m))
      fs.setPermission(at("set"), perm)
    }
    tree(dir).map { case (k, mode) =>
      val p = dir.resolve(k)
      k -> (mode, if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty[Byte])
    }
  }

  for (umask <- Seq("022", "077"))
    test(s"created and set modes, files and .crc sidecars match Hadoop's stock path " +
        s"under umask $umask") {
      val bound = modesLeft(bound = true, umask)
      assert(bound === modesLeft(bound = false, umask))
      val mask = Integer.parseInt(umask, 8)
      for (m <- Modes; n = Integer.parseInt(m, 8)) {
        for (k <- Seq("fs_file", "fs_dir", "fc_file", "fc_dir"))
          assert(bound(k + m)._1 === (n & ~mask))
        assert(bound("set" + m)._1 === n)
      }
      assert(bound("fs_file644")._2 === Payload.toSeq)
      assert(bound(".fs_file644.crc")._2.nonEmpty && bound(".fc_file644.crc")._2.nonEmpty)
    }

  test("sticky and inherited setgid bits are left as Hadoop's chmod leaves them") {
    def left(bound: Boolean): (Int, Int) = {
      val fs = localFs(bound, hadoopConf(bound))
      val dir = Files.createTempDirectory("localfs_special")
      Files.setAttribute(dir, "unix:mode", Integer.valueOf(Integer.parseInt("2755", 8)))
      fs.mkdirs(new Path(dir.resolve("child").toUri), new FsPermission("755"))
      val sticky = Files.createDirectory(dir.resolve("sticky"))
      fs.setPermission(new Path(sticky.toUri),
        new FsPermission(Integer.parseInt("1777", 8).toShort))
      (mode(dir.resolve("child")), mode(sticky))
    }
    val bound = left(bound = true)
    assert(bound === left(bound = false))
    // `sticky` inherits setgid from its parent too
    assert(bound === (Integer.parseInt("2755", 8), Integer.parseInt("3777", 8)))
  }

  test("getFileLinkStatus matches Hadoop's stock path for a file, a directory, " +
      "a missing path and a symlink") {
    val dir = Files.createTempDirectory("localfs_links")
    Files.writeString(dir.resolve("file"), "x")
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
    def describe(status: => FileStatus): String =
      try {
        val s = status
        Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else "",
          s.getLen, s.getModificationTime).mkString(" ")
      } catch { case _: FileNotFoundException => "FileNotFoundException" }
    def statuses(bound: Boolean): Seq[String] = {
      val raw = if (bound) new ForkFreeRawLocalFileSystem else new RawLocalFileSystem
      raw.initialize(URI.create("file:///"), hadoopConf(bound))
      val fc = FileContext.getFileContext(hadoopConf(bound))
      Seq("file", "dir", "missing", "link").flatMap { n =>
        val p = dir.resolve(n)
        // a bare path, as readlink can resolve it; and a qualified one, as FileContext passes it
        Seq(describe(raw.getFileLinkStatus(new Path(p.toString))),
          describe(fc.getFileLinkStatus(new Path(p.toUri))))
      }
    }
    val bound = statuses(bound = true)
    assert(bound === statuses(bound = false))
    assert(bound(4) === "FileNotFoundException" && bound(5) === "FileNotFoundException")
    assert(bound(6).contains(" true file:"), "the bare symlink path reports the link")
  }

  private val wire = Seq(
    Seq("""{"userId":"u1","amount":20000.0,"timestamp":100}""",
      """{"userId":"u2","amount":50.0,"timestamp":101}"""),
    Seq("not json", """{"userId":"u3","amount":15000.5,"timestamp":102}"""),
    Seq("""{"userId":"u1","amount":30000.0,"timestamp":103}"""))

  private val txns = Seq(
    Seq(Txn("u1", 10, 100), Txn("u1", 11, 110), Txn("u1", 12, 120), Txn("u1", 13, 130)),
    Seq(Txn("u2", 1, 300)),
    Seq(Txn("u2", 1, 301)))

  /** Three batches from `mem` through `startAlertSink` into `root/sink`,
    * with the checkpoint in `root/ck`; returns the sink's rows. */
  private def sinkRun[T](session: SparkSession, root: NioPath, mem: MemoryStream[T],
                         batches: Seq[Seq[T]], alerts: DataFrame): Seq[String] = {
    val sink = root.resolve("sink").toString
    val q = FraudPipeline.startAlertSink(alerts, sink, root.resolve("ck").toString)
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    session.read.parquet(sink).collect().map(_.toString).toSeq.sorted
  }

  private def alertRun(session: SparkSession, root: NioPath): Seq[String] = {
    val mem = MemoryStream[String](Encoders.STRING, session.sqlContext)
    sinkRun(session, root, mem, wire, FraudPipeline.fraudAlerts(mem.toDF()))
  }

  private def velocityRun(session: SparkSession, root: NioPath): Seq[String] = {
    val mem = MemoryStream[Txn](Encoders.product[Txn], session.sqlContext)
    sinkRun(session, root, mem, txns, VelocityDetector.detectEventTime(mem.toDS()).toDF())
  }

  for ((name, run) <- Seq[(String, (SparkSession, NioPath) => Seq[String])](
      "fraudAlerts" -> alertRun _, "detectEventTime" -> velocityRun _))
    test(s"a 3-batch $name sink run leaves the stock path's files, modes and rows") {
      val (stockRoot, boundRoot) =
        (Files.createTempDirectory("localfs_stock"), Files.createTempDirectory("localfs_bound"))
      val stockRows = run(stockSession(), stockRoot)
      val boundRows = run(spark, boundRoot)
      assert(boundRows.nonEmpty)
      assert(boundRows === stockRows)
      val files = tree(boundRoot)
      assert(files === tree(stockRoot))
      assert(Seq("ck/offsets/.2.crc", "ck/commits/.2.crc").forall(files.keySet.contains))
      assert(files.keySet.exists(k => k.startsWith("sink/batch_id=2/.part-") && k.endsWith(".crc")))
      if (name == "detectEventTime")
        assert(files.keySet.contains("ck/state/0/0/.3.delta.crc"))
    }

  /** Spawns that Spark makes once per JVM or per collected session, on no
    * query's path: `getconf PAGESIZE` on the first executor heartbeat, and
    * `rm -rf` of a garbage-collected session's artifact directory. */
  private val OffPath = Seq("org.apache.spark.executor.ProcfsMetricsGetter",
    "org.apache.spark.sql.artifact.ArtifactManager")

  /** The processes the JVM started while `body` ran, except [[OffPath]]
    * ones, each as its command, the first Hadoop or Spark frame that
    * started it and its thread. */
  private def spawns(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace().withoutThreshold()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("spawns", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.flatMap { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)
        val origin = frames.find(m => (m.startsWith("org.apache.hadoop.fs")
          || m.startsWith("org.apache.spark")) && !m.startsWith("org.apache.hadoop.fs.FileUtil"))
        val thread = Option(e.getThread).map(_.getJavaName).orNull
        if (frames.exists(f => OffPath.exists(f.startsWith))) None
        else Some(s"${e.getString("command")} @ ${origin.getOrElse("?")} [$thread]")
      }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  test("startAlertSink runs of fraudAlerts and detectEventTime spawn no process") {
    val root = Files.createTempDirectory("localfs_spawns")
    alertRun(spark, root.resolve("warm")) // one-time class and codegen set-up
    val found = spawns {
      alertRun(spark, root.resolve("alerts"))
      velocityRun(spark, root.resolve("velocity"))
    }
    assert(found.isEmpty, s"${found.size} spawns: ${found.distinct.take(10).mkString("; ")}")
    // without the native library Hadoop's stock path spawns, and the
    // recording sees it
    if (!NativeIO.isAvailable)
      assert(spawns(alertRun(stockSession(), root.resolve("stock"))).nonEmpty)
  }
}
