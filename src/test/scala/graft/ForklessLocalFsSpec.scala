package graft

import graft.connector.GraftDoc
import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.security.Permission
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** The engine's `file:` file systems: the same statuses and permissions as
  * stock `RawLocalFileSystem`, no process launched by the engine's write
  * paths, and both Hadoop APIs wired to them in the engine session. */
class ForklessLocalFsSpec extends SparkSpec {
  import spark.implicits._

  private val fileUri = URI.create("file:///")

  private def init[F <: FileSystem](fs: F): F = { fs.initialize(fileUri, new Configuration()); fs }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val forkless = init(new ForklessRawLocalFileSystem)

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def same(a: FileStatus, b: FileStatus): Unit = {
    assert(b.getPath == a.getPath)
    assert(b.getLen == a.getLen)
    assert(b.isDirectory == a.isDirectory)
    assert(b.isSymlink == a.isSymlink)
    assert(b.getModificationTime == a.getModificationTime)
    assert(b.getPermission == a.getPermission)
    assert(b.getPermission.getStickyBit == a.getPermission.getStickyBit)
    assert(b.getOwner == a.getOwner)
    assert(b.getGroup == a.getGroup)
    assert(b.getReplication == a.getReplication)
    assert(b.getBlockSize == a.getBlockSize)
  }

  private def sameStatus(p: Path): Unit =
    same(stock.getFileLinkStatus(p), forkless.getFileLinkStatus(p))

  test("link status of a file, a directory and a missing path matches stock") {
    val dir = new Path(tmp("forkless_eq"))
    val file = new Path(dir, "f.txt")
    Files.writeString(Paths.get(file.toString), "twelve bytes")
    sameStatus(file)
    sameStatus(dir)
    sameStatus(new Path(tmp("forkless_eq")).getParent) // a sticky /tmp, usually
    val missing = new Path(dir, "nope")
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    val e = intercept[FileNotFoundException](forkless.getFileLinkStatus(missing))
    assert(e.getMessage.contains("does not exist"))
    intercept[IOException](stock.setPermission(missing, new FsPermission("644")))
    intercept[IOException](forkless.setPermission(missing, new FsPermission("644")))
  }

  test("setPermission sets what stock sets, and stock reads it back the same") {
    val dir = new Path(tmp("forkless_perm"))
    for (mode <- Seq("600", "640", "755")) {
      val (a, b) = (new Path(dir, s"a$mode"), new Path(dir, s"b$mode"))
      Seq(a, b).foreach(p => Files.writeString(Paths.get(p.toString), mode))
      stock.setPermission(a, new FsPermission(mode))
      forkless.setPermission(b, new FsPermission(mode))
      assert(stock.getFileLinkStatus(b).getPermission == new FsPermission(mode))
      assert(forkless.getFileLinkStatus(a).getPermission == new FsPermission(mode))
      sameStatus(a)
      sameStatus(b)
    }
    val sub = new Path(dir, "sub")
    assert(forkless.mkdirs(sub, new FsPermission("750")))
    assert(stock.getFileLinkStatus(sub).getPermission == new FsPermission("750"))
  }

  test("the sticky bit and symlinks take the stock paths") {
    val dir = new Path(tmp("forkless_fallback"))
    val sticky = new Path(dir, "sticky")
    Files.createDirectory(Paths.get(sticky.toString))
    forkless.setPermission(sticky, new FsPermission("1777"))
    assert(stock.getFileLinkStatus(sticky).getPermission.getStickyBit)
    sameStatus(sticky)

    val target = new Path(dir, "target")
    Files.writeString(Paths.get(target.toString), "x")
    val link = new Path(dir, "link")
    Files.createSymbolicLink(Paths.get(link.toString), Paths.get(target.toString))
    val (a, b) = (stock.getFileLinkStatus(link), forkless.getFileLinkStatus(link))
    assert(b.isSymlink && a.isSymlink)
    assert(b.getSymlink == a.getSymlink)
    same(a, b)
    val dangling = new Path(dir, "dangling")
    Files.createSymbolicLink(Paths.get(dangling.toString), Paths.get(dir.toString).resolve("gone"))
    assert(forkless.getFileLinkStatus(dangling).getSymlink ==
      stock.getFileLinkStatus(dangling).getSymlink)
  }

  test("in the engine session both Hadoop APIs serve file: from the forkless classes") {
    val conf = spark.sessionState.newHadoopConf()
    // FileSystem.CACHE keys on scheme, not class: a stock instance cached
    // before the session existed would still be served here
    assert(FileSystem.get(fileUri, conf).isInstanceOf[ForklessLocalFileSystem])
    assert(FileSystem.get(fileUri, spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[ForklessLocalFileSystem])
    assert(FileSystem.get(fileUri, conf).asInstanceOf[ForklessLocalFileSystem].getRaw
      .isInstanceOf[ForklessRawLocalFileSystem])
    assert(FileContext.getFileContext(fileUri, conf).getDefaultFileSystem
      .isInstanceOf[ForklessLocalFs])
    assert(GraftSession.forklessWarning(spark.sparkContext.hadoopConfiguration).isEmpty)
  }

  test("a session whose Hadoop conf lacks the forkless FS gets a warning naming both --conf keys") {
    val plain = new Configuration(false)
    val stockImpl = new Configuration(false)
    stockImpl.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    for (conf <- Seq(plain, stockImpl)) {
      val w = GraftSession.forklessWarning(conf)
      assert(w.isDefined)
      assert(w.get.contains(
        s"--conf spark.hadoop.fs.file.impl=${classOf[ForklessLocalFileSystem].getName}"))
      assert(w.get.contains(
        s"--conf spark.hadoop.fs.AbstractFileSystem.file.impl=${classOf[ForklessLocalFs].getName}"))
    }
    assert(GraftSession.forklessWarning(stockImpl).get.contains("LocalFileSystem"))
    val forkless = new Configuration(false)
    forkless.set("fs.file.impl", classOf[ForklessLocalFileSystem].getName)
    assert(GraftSession.forklessWarning(forkless).isEmpty)
  }

  /** Commands Hadoop launched while `f` ran. Launches from elsewhere in the
    * JVM are not counted: Spark's own background housekeeping (an `rm -rf`
    * of a collected session's artifact dir, say) runs when the GC says. */
  private def hadoopLaunches(f: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val sm = new SecurityManager {
      override def checkExec(cmd: String): Unit =
        if (new Throwable().getStackTrace.exists(_.getClassName.startsWith("org.apache.hadoop.")))
          seen.add(cmd)
      override def checkPermission(perm: Permission): Unit = ()
      override def checkPermission(perm: Permission, context: AnyRef): Unit = ()
    }
    // JDK 18+ refuses this unless the JVM runs with
    // -Djava.security.manager=allow (set in build.sbt's Test / javaOptions);
    // without it the spec fails rather than pass without counting anything
    try System.setSecurityManager(sm)
    catch { case e: UnsupportedOperationException =>
      fail("cannot install a SecurityManager to count launches; " +
        "run the tests with -Djava.security.manager=allow", e) }
    try f finally System.setSecurityManager(null)
    seen.asScala.toSeq
  }

  test("graft-doc commits, a streaming drain and a parquet overwrite make Hadoop launch no process") {
    val table = tmp("forkless_doc")
    val src = tmp("forkless_src")
    val out = tmp("forkless_pq")
    val schema = StructType(Seq(StructField("k", LongType), StructField("name", StringType)))
    var round = 0
    def ops(): Unit = {
      round += 1
      GraftDoc.write(Seq((1L, s"a$round"), (2L, "b")).toDF("k", "name"), "k", table)
      GraftDoc.delete(spark, table, Seq(2L).toDF("k"))
      assert(GraftDoc.snapshot(spark, table).collect().length == 1)
      GraftDoc.compact(spark, table)
      Seq((round.toLong, s"s$round")).toDF("k", "name")
        .write.mode("append").parquet(s"$src/in")
      GraftDoc.writeStream(spark.readStream.schema(schema).parquet(s"$src/in"),
        "k", s"$table-stream", s"$src/ckpt").awaitTermination()
      Seq((round, "x")).toDF("k", "v").write.mode("overwrite").parquet(out)
    }
    ops() // warm-up: Hadoop's Shell probes for setsid once per JVM
    val seen = hadoopLaunches(ops())
    assert(seen.isEmpty, s"process launches: ${seen.groupBy(identity).map {
      case (c, n) => s"$c x${n.size}" }.mkString(", ")}")
    assert(GraftDoc.snapshot(spark, s"$table-stream").count() == 2)
  }
}
