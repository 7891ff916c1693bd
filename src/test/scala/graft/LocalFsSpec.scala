package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import graft.sources.{NioLocalFileSystem, NioLocalFs, Sinks}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem every graft session uses (`Tables.sessionConfigs`):
  * the stock checksummed one, with its chmod and readlink done in-process
  * instead of by a forked shell command. */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")
  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  test("under Tables.session, file:// resolves to the java.nio filesystem") {
    assert(FileSystem.get(root, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    // FileSystem's cache is keyed per scheme and user, not per conf:
    // the context is built from the session's own confs
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }

  test("mkdirs, create and setPermission leave the stock bits and .crc files") {
    /** Every path under `dir` with its permission bits, after the same
      * calls through `fs`. */
    def layout(fs: FileSystem, dir: String): Seq[(String, String)] = {
      val d = new Path(dir)
      fs.mkdirs(new Path(d, "a/b"))
      fs.mkdirs(new Path(d, "m"), new FsPermission("750"))
      val out = fs.create(new Path(d, "a/b/f.bin"))
      out.write(Array[Byte](1, 2, 3))
      out.close()
      fs.create(new Path(d, "g"), new FsPermission("640"), true, 4096,
        1.toShort, 1L << 20, null).close()
      fs.create(new Path(d, "h")).close()
      fs.setPermission(new Path(d, "h"), new FsPermission("741"))
      fs.mkdirs(new Path(d, "sticky"))
      fs.setPermission(new Path(d, "sticky"), new FsPermission("1777"))
      val base = Paths.get(dir)
      val walk = Files.walk(base)
      // all twelve mode bits, the sticky bit included
      try walk.sorted().toArray.toSeq.map { p =>
        val q = p.asInstanceOf[java.nio.file.Path]
        (base.relativize(q).toString, Integer.toOctalString(
          Files.getAttribute(q, "unix:mode").asInstanceOf[Int] & 0xfff))
      } finally walk.close()
    }
    for (umask <- Seq("022", "077")) {
      val c = new Configuration(conf)
      c.set("fs.permissions.umask-mode", umask)
      val stock = new LocalFileSystem()
      stock.initialize(root, c)
      val nio = new NioLocalFileSystem()
      nio.initialize(root, c)
      val want = layout(stock, tmp())
      assert(want.exists(_._1.endsWith(".f.bin.crc")), want)
      assert(layout(nio, tmp()) == want, s"umask $umask")
    }
  }

  test("a missing path throws FileNotFoundException, a symlink stays a symlink") {
    val fs = FileSystem.get(root, conf)
    val fc = FileContext.getFileContext(root, conf)
    val stock = new LocalFileSystem()
    stock.initialize(root, new Configuration(conf))
    val dir = tmp()
    val missing = new Path(s"$dir/missing")
    intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](fc.getFileLinkStatus(missing))
    val target = Files.write(Paths.get(dir, "t"), Array[Byte](7))
    val link = Files.createSymbolicLink(Paths.get(dir, "l"), target)
    for (st <- Seq(fs.getFileLinkStatus(new Path(link.toString)),
                   fc.getFileLinkStatus(new Path(link.toString)))) {
      assert(st.isSymlink)
      assert(st.getSymlink.toUri.getPath == target.toString)
    }
    val plain = fs.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.getLen == 1L)
    // as the stock call for every form of both paths (the stock readlink
    // gets a `file:` path's string, so it reports no link for one)
    for (p <- Seq(link, target); path <- Seq(p.toString, p.toUri.toString)) {
      val (a, b) = (fs.getFileLinkStatus(new Path(path)),
        stock.getFileLinkStatus(new Path(path)))
      assert((a.isSymlink, a.getLen, a.getPath) ==
        (b.isSymlink, b.getLen, b.getPath), path)
    }
  }

  test("a parquet sink write and a q115 run start no chmod, readlink or ls") {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def programs(): Seq[String] = started.toArray.toSeq.map(c =>
      c.toString.split(" ").head.split("/").last)
    val rec = new jdk.jfr.consumer.RecordingStream()
    try {
      rec.enable("jdk.ProcessStart")
      rec.onEvent("jdk.ProcessStart", e => {
        started.add(e.getString("command")); () })
      rec.startAsync()
      Sinks.parquet(spark.range(100).toDF("id"), s"${tmp()}/p")
      SparkEntry.queries("q115_stream_static_join")(spark, sfDir).count()
      // a process of our own: once the stream has delivered it, it has
      // delivered every start before it
      new ProcessBuilder("true").start().waitFor()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!programs().contains("true") && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(programs().contains("true"), "the recording saw no start")
    } finally rec.close()
    val forks = programs().filter(Set("chmod", "readlink", "ls"))
    assert(forks.isEmpty, started.toArray.mkString("\n"))
  }
}
