package graft

import java.io.RandomAccessFile
import java.nio.file.{Files, Paths}

import graft.streaming.{CdcSource, LocalCheckpointFileManager}
import graft.streaming.CdcStream.RawChange
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}

/** The session's checkpoint file manager keeps every guarantee of the
  * manager Spark picks by default — each file-level check runs against both
  * — adds read verification, and restarts a CDC checkpoint written under
  * Spark's default.
  */
class LocalCheckpointFileManagerSpec extends SparkSuite {
  import LocalCheckpointFileManager.ConfKey

  private def confWithout: Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.unset(ConfKey)
    c
  }

  /** (name, manager for a directory): Spark's default and this one. */
  private val managers: Seq[(String, Path => CheckpointFileManager)] = Seq(
    "spark default" -> (d => CheckpointFileManager.create(d, confWithout)),
    "local" -> (d => new LocalCheckpointFileManager(d, spark.sessionState.newHadoopConf())))

  private def freshDir(): Path = new Path(Files.createTempDirectory("cfm").toUri)

  private def write(fm: CheckpointFileManager, p: Path, bytes: Array[Byte]): Unit = {
    val out = fm.createAtomic(p, false)
    out.write(bytes)
    out.close()
  }

  private def readAll(fm: CheckpointFileManager, p: Path): Array[Byte] = {
    val in = fm.open(p)
    try in.readAllBytes() finally in.close()
  }

  private def filesIn(dir: Path): Set[String] =
    Option(new java.io.File(dir.toUri).list()).map(_.toSet).getOrElse(Set.empty)

  private val payload = Array.tabulate[Byte](4096)(i => (i % 251).toByte)

  test("the session builder installs the manager; file: paths use it") {
    val fm = CheckpointFileManager.create(freshDir(), spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    assert(fm.isLocal)
  }

  test("an atomic write leaves the file and a .crc sidecar, nothing else") {
    managers.foreach { case (name, mk) =>
      val dir = freshDir()
      val fm = mk(dir)
      write(fm, new Path(dir, "1"), payload)
      assert(filesIn(dir) == Set("1", ".1.crc"), name)
      assert(readAll(fm, new Path(dir, "1")).sameElements(payload), name)
    }
  }

  test("a corrupted checkpoint file fails to read with ChecksumException, left in place") {
    // stricter than Spark's default manager, whose FileContext reads of
    // file: paths do not check the sidecar
    val dir = freshDir()
    val fm = new LocalCheckpointFileManager(dir, spark.sessionState.newHadoopConf())
    val p = new Path(dir, "2")
    write(fm, p, payload)
    val raf = new RandomAccessFile(new java.io.File(p.toUri), "rw")
    try { raf.seek(1000); raf.write(payload(1000) ^ 0xff) } finally raf.close()
    intercept[ChecksumException](readAll(fm, p))
    assert(filesIn(dir) == Set("2", ".2.crc"), "the corrupt file was moved")
  }

  test("no-overwrite createAtomic onto an existing file throws FileAlreadyExistsException") {
    // how Spark catches two queries writing one checkpoint
    managers.foreach { case (name, mk) =>
      val dir = freshDir()
      val fm = mk(dir)
      val p = new Path(dir, "3")
      write(fm, p, payload)
      val out = fm.createAtomic(p, false)
      out.write(Array[Byte](1, 2, 3))
      intercept[FileAlreadyExistsException](out.close())
      assert(readAll(fm, p).sameElements(payload), name)
    }
  }

  test("cancel() leaves neither the target nor a temp file") {
    managers.foreach { case (name, mk) =>
      val dir = freshDir()
      val fm = mk(dir)
      val out = fm.createAtomic(new Path(dir, "4"), false)
      out.write(payload)
      out.cancel()
      assert(filesIn(dir).isEmpty, s"$name left ${filesIn(dir)}")
    }
  }

  test("files, sidecars and directories get the permissions Spark's default manager gives") {
    def perms(dir: Path): Map[String, String] =
      Seq("d", "d/5", "d/.5.crc").map { f =>
        f -> java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(Paths.get(new Path(dir, f).toUri)))
      }.toMap
    val got = managers.map { case (name, mk) =>
      val dir = freshDir()
      val fm = mk(dir)
      fm.mkdirs(new Path(dir, "d"))
      write(fm, new Path(dir, "d/5"), payload)
      name -> perms(dir)
    }.toMap
    assert(got("local") == got("spark default"), got)
    assert(got("local")("d/5") == "rw-r--r--", got)
  }

  test("a non-file path gets the manager class Spark would pick") {
    val conf = spark.sessionState.newHadoopConf()
    // a FileSystem-only scheme: Spark falls back from FileContext
    conf.set("fs.cfmtest.impl", classOf[RawLocalFileSystem].getName)
    conf.setBoolean("fs.cfmtest.impl.disable.cache", true)
    Seq(new Path("cfmtest:///tmp/ckpt"), new Path("hdfs://localhost:9/ckpt")).foreach { p =>
      val c = new Configuration(conf)
      c.unset(ConfKey)
      val want = CheckpointFileManager.create(p, c).getClass
      val got = new LocalCheckpointFileManager(p, conf).underlying.getClass
      assert(got == want, p)
    }
  }

  private def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)

  test("a CDC query checkpointed under Spark's default manager restarts under this one exactly once") {
    val feed = CdcSource.FeedRegistry.get("spec_cfm")
    val ckptDir = Files.createTempDirectory("cfm_ckpt")
    val ckpt = ckptDir.toString
    val out = Files.createTempDirectory("cfm_out").toString
    // stateful (first event per user), so the restart reads the default
    // manager's state-store files as well as its offset and commit logs
    def start() = spark.readStream.format("graft.streaming.CdcSourceProvider")
      .option("feed", "spec_cfm").load()
      .dropDuplicates("user_id")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def current = CheckpointFileManager.create(new Path(ckpt), spark.sessionState.newHadoopConf())

    val ours = spark.conf.get(ConfKey)
    spark.conf.unset(ConfKey)
    try {
      assert(current.isInstanceOf[FileContextBasedCheckpointFileManager])
      val q1 = start()
      try {
        feed.append(
          RawChange(1, t(0), 1, "signup", """{"k":1}"""),
          RawChange(2, t(1), 2, "purchase", """{"k":2}"""))
        q1.processAllAvailable()
        assert(spark.read.parquet(out).count() == 2)
      } finally q1.stop()
    } finally spark.conf.set(ConfKey, ours)

    // while the query is down: a repeat user (state must drop it) and a new one
    feed.append(
      RawChange(3, t(2), 1, "view", """{"k":3}"""),
      RawChange(4, t(3), 3, "view", """{"k":4}"""))
    assert(current.isInstanceOf[LocalCheckpointFileManager])
    val q2 = start()
    try {
      q2.processAllAvailable()
      feed.append(RawChange(5, t(4), 4, "click", """{"k":5}"""))
      q2.processAllAvailable()
      val ids = spark.read.parquet(out).orderBy("event_id").collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(1L, 2L, 4L, 5L), s"expected exactly-once delivery across restart, got $ids")
    } finally q2.stop()
    // the batches after the restart were logged by this manager, sidecars included
    val offsets = filesIn(new Path(ckptDir.resolve("offsets").toUri))
    val last = offsets.filter(_.forall(_.isDigit)).map(_.toInt).max
    assert(last >= 2 && offsets.contains(s".$last.crc"), offsets)
  }
}
