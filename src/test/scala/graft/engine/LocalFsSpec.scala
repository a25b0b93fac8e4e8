package graft.engine

import java.io.{FileNotFoundException, RandomAccessFile}
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.rules.ReferenceCorpus

/** [[LocalFs]]: it behaves like Hadoop's `LocalFs` on every call Spark's
  * checkpoint manager makes, a checkpoint moves between the two in both
  * directions, and a stateful files-to-files query commits its triggers
  * without starting a process. */
class LocalFsSpec extends SparkSpec {

  private val ImplKey = "fs.AbstractFileSystem.file.impl"
  private val HadoopLocalFs = "org.apache.hadoop.fs.local.LocalFs"

  /** A `file:` FileContext on Hadoop's `LocalFs` or on graft's. */
  private def fileContext(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set(ImplKey, impl)
    val fc = FileContext.getLocalFSFileContext(conf)
    assert(fc.getDefaultFileSystem.getClass.getName == impl)
    fc
  }

  /** Run `check` once per implementation, each in its own fresh directory. */
  private def onBoth[T](check: (FileContext, JPath) => T): (T, T) = {
    def one(impl: String) =
      check(fileContext(impl), Files.createTempDirectory("graft-localfs"))
    (one(HadoopLocalFs), one(classOf[LocalFs].getName))
  }

  private def write(fc: FileContext, p: Path, body: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Reads through `ChecksumFs`, which verifies the CRC side file. The
    * one-argument `FileContext.open` does not: Hadoop's `FilterFs` hands
    * it straight to the raw file system. */
  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p, 4096)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def qualified(dir: JPath, name: String): Path =
    new Path(dir.resolve(name).toUri)

  test("create writes the .crc side file and a flipped byte fails the read") {
    val (hadoop, graft) = onBoth { (fc, dir) =>
      val p = qualified(dir, "a")
      write(fc, p, "offsets v1")
      val crc = Files.exists(dir.resolve(".a.crc"))
      val body = read(fc, p)
      val raf = new RandomAccessFile(dir.resolve("a").toFile, "rw")
      try { raf.seek(3); raf.write(raf.read() ^ 0x01) } finally raf.close()
      intercept[ChecksumException](read(fc, p))
      (crc, body)
    }
    assert(hadoop == (true, "offsets v1"))
    assert(graft == hadoop)
  }

  test("rename replaces the target with OVERWRITE and refuses without it") {
    val (hadoop, graft) = onBoth { (fc, dir) =>
      val (src, dst) = (qualified(dir, "src"), qualified(dir, "dst"))
      write(fc, src, "new")
      write(fc, dst, "old")
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      assert(read(fc, dst) == "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      (read(fc, dst), Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSeq.sorted)
    }
    assert(hadoop == ("new", Seq(".dst.crc", "dst")))
    assert(graft == hadoop)
  }

  test("getFileLinkStatus: a file, a directory, a missing path and a symlink") {
    def shape(s: FileStatus) = (s.getPath.toString, s.isFile, s.isDirectory,
      s.isSymlink, s.getLen, s.getModificationTime, s.getPermission.toString)
    val dir = Files.createTempDirectory("graft-linkstatus")
    Files.writeString(dir.resolve("f"), "12345")
    Files.createDirectory(dir.resolve("d"))
    Files.createSymbolicLink(dir.resolve("l"), dir.resolve("f"))
    val hadoop = fileContext(HadoopLocalFs)
    val graft = fileContext(classOf[LocalFs].getName)
    for (name <- Seq("f", "d", "l")) {
      val p = qualified(dir, name)
      val want = shape(hadoop.getFileLinkStatus(p))
      assert(shape(graft.getFileLinkStatus(p)) == want, name)
    }
    assert(hadoop.getFileLinkStatus(qualified(dir, "d")).isDirectory)
    for (fc <- Seq(hadoop, graft))
      intercept[FileNotFoundException](fc.getFileLinkStatus(qualified(dir, "missing")))
  }

  test("setPermission(0640) leaves the same mode as Hadoop's chmod") {
    val (hadoop, graft) = onBoth { (fc, dir) =>
      val p = qualified(dir, "a")
      write(fc, p, "x")
      fc.setPermission(p, new FsPermission(Integer.parseInt("640", 8).toShort))
      PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve("a")))
    }
    assert(hadoop == "rw-r-----")
    assert(graft == hadoop)
    // every rwx mode maps to the permission set chmod would leave
    for (bits <- 0 until 512)
      assert(LocalFs.posix(bits) ==
        PosixFilePermissions.fromString(new FsPermission(bits.toShort).toString), bits)
  }

  /** The dedup ingest chain from a files source to a files sink on the
    * default checkpoint `Sources.sink` derives from the sink path: the
    * `/tmp/graft-checkpoint-*` directory of a `jobs.Main` deployment. */
  private def dedupChain(in: JPath, out: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream.text(in.toString).withColumn("timestamp", current_timestamp())
    AlertPipeline.startIngestChain(raw, ReferenceCorpus.active, dedupWatermark = "1 hour",
      statePartitions = Some(2))(df =>
      Sources.sink(df, Map("sink.type" -> "files", "sink.path" -> out)))
  }

  /** Run `body` on a fresh input and sink directory, then delete the
    * default checkpoint that [[dedupChain]] wrote for the sink. */
  private def withChain(body: (JPath, String) => Unit): Unit = {
    val in = Files.createTempDirectory("graft-chain-in")
    val out = Files.createTempDirectory("graft-chain-out").toString
    val ckpt = new java.io.File(f"/tmp/graft-checkpoint-${out.hashCode & 0x7fffffff}%08x")
    assert(!ckpt.exists, ckpt)
    try {
      body(in, out)
      assert(new java.io.File(ckpt, "offsets").isDirectory, s"no checkpoint at $ckpt")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
  }

  /** Publish an input file atomically, so a running source never lists
    * it half written. */
  private def publish(in: JPath, name: String, lines: String*): Unit = {
    val tmp = Files.createTempFile(in.getParent, name, ".tmp")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    Files.move(tmp, in.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def cmdkey(uuid: String): String =
    s"""{"computer_name":"pc1","event_id":1,"host":"h","uuid":"$uuid",""" +
      s""""event_data":{"CommandLine":"cmdkey /list",""" +
      s""""Image":"C:\\\\Windows\\\\System32\\\\cmdkey.exe"}}"""

  private def alertUuids(out: String): Seq[String] =
    spark.read.parquet(out).select(col("event.origin_ids")(0))
      .collect().map(_.getString(0)).sorted.toSeq

  test("a dedup checkpoint resumes in place across Hadoop's LocalFs and graft's, both ways") {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // the file system the next query's checkpoint manager will get
    def checkpointFs(): String = FileContext.getFileContext(
      session.sessionState.newHadoopConf()).getDefaultFileSystem.getClass.getName
    for ((first, second) <- Seq(
        HadoopLocalFs -> classOf[LocalFs].getName,
        classOf[LocalFs].getName -> HadoopLocalFs)) withChain { (in, out) =>
      def runOn(impl: String): Unit = {
        // a session conf reaches the query's Hadoop conf; unset, the
        // SessionDefaults setting on the SparkContext applies
        if (impl == HadoopLocalFs) spark.conf.set(ImplKey, impl)
        try {
          assert(checkpointFs() == impl)
          val q = dedupChain(in, out)
          try q.processAllAvailable() finally q.stop()
        } finally spark.conf.unset(ImplKey)
      }
      publish(in, "1.json", cmdkey("a1"), cmdkey("a2"))
      runOn(first)
      assert(alertUuids(out) == Seq("a1", "a2"), s"$first first run")
      // a1 again must meet the dedup state the first run committed, and
      // 1.json must not be read again
      publish(in, "2.json", cmdkey("a1"), cmdkey("a3"))
      runOn(second)
      assert(alertUuids(out) == Seq("a1", "a2", "a3"), s"$first -> $second")
    }
  }

  test("the shared spec session registers graft's LocalFs for file:") {
    assert(spark.conf.get(s"spark.hadoop.$ImplKey") == classOf[LocalFs].getName)
    assert(spark.sparkContext.hadoopConfiguration.get(ImplKey) == classOf[LocalFs].getName)
  }

  test("a dedup files-to-files query commits its triggers without starting a process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
    def frames(e: RecordedEvent) = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
    withChain { (in, out) =>
      val rec = new Recording()
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val triggers = try {
        val q = dedupChain(in, out)
        try {
          // each file: one new event and a duplicate of the first
          for (i <- 1 to 3) {
            publish(in, s"$i.json", cmdkey(s"n$i"), cmdkey("n1"))
            q.processAllAvailable()
          }
          q.recentProgress.count(_.numInputRows > 0)
        } finally q.stop()
      } finally rec.stop()
      val dump = Files.createTempFile("graft-nospawn", ".jfr")
      val starts = try {
        rec.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart").map(frames)
      } finally { rec.close(); Files.deleteIfExists(dump) }
      val fromCheckpoint = starts.filter(_.exists(_.contains("CheckpointFileManager")))
      // the forking Hadoop call and the checkpoint call above it
      def site(fs: Seq[String]) =
        fs.find(_.startsWith("org.apache.hadoop.fs.")).getOrElse("?") + " <- " +
          fs.find(_.contains("CheckpointFileManager")).get
      assert(triggers >= 2, s"only $triggers triggers read input")
      assert(fromCheckpoint.size == 0,
        s"${fromCheckpoint.size} process starts from checkpoint commits in $triggers triggers: " +
          fromCheckpoint.groupBy(site).map { case (k, v) => s"${v.size}x $k" }.mkString("; "))
      assert(alertUuids(out) == Seq("n1", "n2", "n3"))
    }
  }
}
