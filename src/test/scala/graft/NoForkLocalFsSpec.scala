package graft

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{NoForkLocalFileSystem, NoForkLocalFs, NoForkRawLocalFileSystem}
import graft.model._
import graft.streaming.{RuleBook, StreamingEngine}

/** The `file:` scheme's no-fork local file system (`graft.fs`): it
  * behaves as Hadoop's stock local file system, `core-site.xml` wires it
  * into every Configuration, and a checkpointed streaming query starts
  * no `chmod` or `readlink` process. */
class NoForkLocalFsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val localUri = URI.create("file:///")

  private def stockConf: Configuration = {
    val c = new Configuration()
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }
  private def graftConf: Configuration = {
    val c = new Configuration()
    c.set("fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
    c
  }
  private def init[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(localUri, conf)
    fs
  }
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  private def tempDir(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)

  test("create applies the umask and mkdirs(p, perm) sets the mode, as the stock local FS does") {
    val tmp = tempDir("graft_nofork_create_")
    val stock = init(new RawLocalFileSystem, new Configuration())
    val graft = init(new NoForkRawLocalFileSystem, new Configuration())
    for (perm <- Seq(0x1FF, 0x1ED, 0x1A4, 0x1C0, 0x180)) { // 0777, 0755, 0644, 0700, 0600
      val fp = new FsPermission(perm.toShort)
      val modes = Seq("stock" -> stock, "graft" -> graft).map { case (side, fs) =>
        val f = new Path(s"$tmp/$side/$perm/f")
        fs.create(f, fp, false, 4096, 1.toShort, 1L << 20, null).close()
        val d = new Path(s"$tmp/$side/$perm/d")
        assert(fs.mkdirs(d, fp))
        (mode(Paths.get(f.toString)), mode(Paths.get(d.toString)))
      }
      assert(modes.head == modes(1), s"perm ${perm.toOctalString}: stock vs graft (file, dir)")
      // Default umask 022: group and others lose write.
      assert(modes.head._1 == (perm & ~0x12), s"perm ${perm.toOctalString}")
    }
  }

  test("setPermission over sampled modes, the sticky bit and setuid/setgid bits matches stock chmod") {
    val tmp = tempDir("graft_nofork_chmod_")
    val stock = init(new RawLocalFileSystem, new Configuration())
    val graft = init(new NoForkRawLocalFileSystem, new Configuration())
    val sides = Seq("stock" -> stock, "graft" -> graft)
    val paths = sides.map { case (side, _) =>
      val f = Files.createFile(Files.createDirectories(tmp.resolve(side)).resolve("f"))
      val d = Files.createDirectory(tmp.resolve(side).resolve("d"))
      (f, d)
    }
    // Sequential on purpose: every stock call forks a chmod.
    val sampled = (0 until 0x200 by 37) ++ Seq(0, 0x1FF, 0x1ED, 0x1A4, 0x1C0, 0x049)
    for (m <- sampled; sticky <- if (m == 0x1FF) Seq(false, true) else Seq(false)) {
      val perm = new FsPermission(m.toShort)
      val fp = if (sticky) new FsPermission(perm.getUserAction, perm.getGroupAction,
        perm.getOtherAction, true) else perm
      val got = sides.zip(paths).map { case ((_, fs), (f, d)) =>
        fs.setPermission(new Path(f.toString), fp)
        fs.setPermission(new Path(d.toString), fp)
        (mode(f), mode(d))
      }
      assert(got.head == got(1), s"mode ${m.toOctalString} sticky=$sticky: stock vs graft")
      assert(got.head._2 == (if (sticky) m | 0x200 else m))
    }
    // A setgid directory keeps its setgid bit under a four-digit chmod.
    val setgid = sides.map { case (side, fs) =>
      val d = Files.createDirectory(tmp.resolve(side).resolve("sgid"))
      Files.setAttribute(d, "unix:mode", Integer.valueOf(0x5ED)) // 02755
      fs.setPermission(new Path(d.toString), new FsPermission(0x1C0.toShort)) // 0700
      mode(d)
    }
    assert(setgid == Seq(0x5C0, 0x5C0)) // 02700
    // A setuid file loses its setuid bit.
    val setuid = sides.map { case (side, fs) =>
      val f = Files.createFile(tmp.resolve(side).resolve("suid"))
      Files.setAttribute(f, "unix:mode", Integer.valueOf(0x9ED)) // 04755
      fs.setPermission(new Path(f.toString), new FsPermission(0x1C0.toShort)) // 0700
      mode(f)
    }
    assert(setuid == Seq(0x1C0, 0x1C0))
    // A missing path fails on both sides.
    for ((side, fs) <- sides)
      intercept[IOException](fs.setPermission(new Path(s"$tmp/$side/missing"),
        new FsPermission(0x1A4.toShort)))
  }

  test("getFileLinkStatus and getLinkTarget through FileSystem and FileContext match the stock local FS") {
    val tmp = tempDir("graft_nofork_link_")
    val file = Files.write(tmp.resolve("file"), "abc".getBytes)
    val dir = Files.createDirectory(tmp.resolve("dir"))
    val link = Files.createSymbolicLink(tmp.resolve("link"), file)
    val relLink = Files.createSymbolicLink(tmp.resolve("rel_link"), Paths.get("file"))
    val dangling = Files.createSymbolicLink(tmp.resolve("dangling"), tmp.resolve("gone"))
    val missing = tmp.resolve("missing")

    // What a caller can see of a status.
    def view(st: FileStatus): Seq[Any] = Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink,
      if (st.isSymlink) st.getSymlink else null, st.getLen, st.getModificationTime,
      st.getPermission, st.getOwner, st.getGroup)
    def outcome[A](get: Path => A, p: Path): Either[String, A] =
      try Right(get(p)) catch { case e: IOException => Left(e.getClass.getName) }

    val stockFs = init(new LocalFileSystem, new Configuration())
    val graftFs = init(new NoForkLocalFileSystem, new Configuration())
    val stockRaw = init(new RawLocalFileSystem, new Configuration())
    val graftRaw = init(new NoForkRawLocalFileSystem, new Configuration())
    val stockFc = FileContext.getFileContext(stockConf)
    val graftFc = FileContext.getFileContext(graftConf)
    assert(graftFc.getDefaultFileSystem.isInstanceOf[NoForkLocalFs])

    val apis: Seq[(String, Path => Any, Path => Any)] = Seq(
      ("FileSystem", p => view(stockFs.getFileLinkStatus(p)), p => view(graftFs.getFileLinkStatus(p))),
      ("raw FileSystem", p => view(stockRaw.getFileLinkStatus(p)), p => view(graftRaw.getFileLinkStatus(p))),
      ("FileContext", p => view(stockFc.getFileLinkStatus(p)), p => view(graftFc.getFileLinkStatus(p))),
      ("FileSystem target", stockFs.getLinkTarget, graftFs.getLinkTarget),
      ("raw FileSystem target", stockRaw.getLinkTarget, graftRaw.getLinkTarget),
      ("FileContext target", stockFc.getLinkTarget, graftFc.getLinkTarget))
    val cases = Seq("file" -> file, "dir" -> dir, "link" -> link, "rel_link" -> relLink,
      "dangling" -> dangling, "missing" -> missing)
    for ((api, stock, graft) <- apis; (name, p) <- cases;
         path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val want = outcome(stock, path)
      assert(outcome(graft, path) == want, s"$api $name $path")
    }
    // The cases are the ones named: an unqualified path sees its link.
    def kind(p: java.nio.file.Path) = outcome(graftFs.getFileLinkStatus, new Path(p.toString))
      .map(st => (st.isFile, st.isDirectory, st.isSymlink))
    assert(kind(file) == Right((true, false, false)))
    assert(kind(dir) == Right((false, true, false)))
    assert(kind(link) == Right((false, false, true)))
    assert(kind(dangling) == Right((false, false, true)))
    assert(kind(missing) == Left(classOf[FileNotFoundException].getName))
    assert(outcome(graftFc.getLinkTarget, new Path(relLink.toString)) == Right(new Path("file")))
    assert(outcome(graftFc.getLinkTarget, new Path(file.toString)).isLeft)
  }

  /** Runs the one-pass dynamic CEP query over `batches` JSON-line files,
    * one micro-batch per file, checkpointed under `tmp`. */
  private def runOnePass(tmp: String, batches: Int): Long = {
    val srcDir = s"$tmp/in"
    Files.createDirectories(Paths.get(srcDir))
    val t0 = 1650557501028L
    val book = new RuleBook
    book.applyChanges(Seq(graft.cep.Metrics.toRow(Rule(1, RuleState.Active, WindowType.Tumbling,
      2, 0, Seq("t_group"), AggType.Sum, "cpu_usage", CmpOp.Gt, BigDecimal(11)))))
    val engine = new StreamingEngine(
      spark,
      () => graft.parse.Parsers.parseMetrics(graft.streaming.CepRunner.fileLines(spark, srcDir)),
      book,
      StreamingEngine.SinkConfig(format = "parquet", outputMode = "append",
        checkpointRoot = Some(s"$tmp/ckpt"), pathRoot = Some(s"$tmp/out")))
    val q = engine.startOnePassDynamic(s"$tmp/rules")
    try {
      for (b <- 0 until batches) {
        val lines = Seq("business" -> 9, "work" -> 7).map { case (g, v) =>
          s"""{"eventTime":${t0 + b * 130000L},"t_group":"$g","cpu_usage":$v}"""
        }
        Files.write(Paths.get(s"$srcDir/$b.jsonl"), lines.mkString("\n").getBytes)
        q.processAllAvailable()
      }
      assert(q.exception.isEmpty)
      q.lastProgress.batchId
    } finally engine.shutdown()
  }

  test("core-site.xml serves file: through graft.fs; a checkpoint keeps its .crc files and checksum sidecars") {
    for ((what, conf) <- Seq("new Configuration()" -> new Configuration(),
        "newHadoopConf()" -> spark.sessionState.newHadoopConf())) {
      assert(FileSystem.get(localUri, conf).getClass == classOf[NoForkLocalFileSystem], what)
      assert(FileSystem.newInstance(localUri, conf).getClass == classOf[NoForkLocalFileSystem], what)
      val local = FileSystem.getLocal(conf)
      assert(local.isInstanceOf[LocalFileSystem] && local.getRaw.isInstanceOf[NoForkRawLocalFileSystem], what)
      assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass == classOf[NoForkLocalFs], what)
      assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass == classOf[NoForkLocalFs], what)
    }

    val tmp = tempDir("graft_nofork_ckpt_").toString
    assert(runOnePass(tmp, 3) >= 2)
    val root = Paths.get(s"$tmp/ckpt/cep_one_pass")
    val files = Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSet
    val listing = files.toSeq.sorted.mkString("\n")
    val changelogs = files.filter(_.endsWith(".changelog"))
    assert(changelogs.size >= 3, listing)
    // Spark's checksum sidecar of `n` is `n.crc`; Hadoop's checksum file
    // of any `x` is `.x.crc`, so the sidecar has one too.
    for (c <- changelogs) {
      val dir = new File(c).getParent
      val n = new File(c).getName
      assert(files.contains(s"$dir/.$n.crc"), s"no Hadoop .crc next to $c:\n$listing")
      assert(files.contains(s"$dir/$n.crc") && files.contains(s"$dir/.$n.crc.crc"),
        s"no Spark checksum sidecar next to $c:\n$listing")
    }
    assert(files.contains("offsets/0") && files.contains("offsets/.0.crc"), listing)
  }

  test("a checkpointed one-pass query and FileContext symlink reads start no chmod or readlink process") {
    val tmp = tempDir("graft_nofork_jfr_").toString
    val link = Files.createSymbolicLink(Paths.get(s"$tmp/link"), Paths.get("target"))
    val fc = FileContext.getFileContext(new Configuration())
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val batchId =
      try {
        // Positive control: the recording sees a process this JVM starts.
        new ProcessBuilder("true").start().waitFor()
        // FileContext reads a link's target on top of its status.
        assert(fc.getFileLinkStatus(new Path(link.toString)).isSymlink)
        runOnePass(tmp, 3)
      } finally rec.stop()
    val dump = Paths.get(s"$tmp/process_starts.jfr")
    rec.dump(dump)
    rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command")).toSeq
    assert(batchId >= 2)
    assert(commands.exists(_.trim == "true"), commands.mkString("\n"))
    // What still forks here: Spark's recursive delete of local
    // directories (`rm -rf`, Utils.deleteRecursively) and Hadoop Shell's
    // one-time probes when the class first loads. Neither runs per file.
    val forks = commands.filter { c =>
      val exe = new File(c.trim.split("\\s+").head).getName
      exe == "chmod" || exe == "readlink"
    }
    assert(forks.isEmpty, s"${forks.size} chmod/readlink starts, e.g. ${forks.take(3).mkString("; ")}")
  }
}
