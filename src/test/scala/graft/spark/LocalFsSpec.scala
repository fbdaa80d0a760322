package graft.spark

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The `file:` binding local sessions get ([[InProcessLocalFileSystem]]):
  * which masters get it, that it writes what Hadoop's stock LocalFileSystem
  * writes with the same modes, and that it forks no `chmod`.
  */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Binding = classOf[InProcessLocalFileSystem].getName

  /** Every entry under `root` (root included) as (relative path with write
    * UUIDs masked, octal mode with the setid/sticky bits), sorted.
    */
  private def tree(root: JPath): List[(String, String)] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val s = Files.walk(root)
    try s.iterator.asScala.map { p =>
      root.relativize(p).toString.replaceAll(uuid, "<uuid>") ->
        f"${Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff}%04o"
    }.toList.sorted
    finally s.close()
  }

  /** `chmod` processes the JVM started while `body` ran (JFR jdk.ProcessStart). */
  private def chmodsDuring(body: => Unit): Int = {
    val r = new Recording()
    val dump = Files.createTempFile("process-start", ".jfr")
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      try body finally r.stop()
      r.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.count(_.getString("command").contains("chmod"))
    } finally { r.close(); Files.delete(dump) }
  }

  /** Run `body` with `file:` resolved, uncached, to `impl` (session conf
    * reaches every Hadoop conf the writers and the manifest use).
    */
  private def withFileImpl[A](impl: Class[_])(body: => A): A = {
    spark.conf.set("fs.file.impl", impl.getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try body
    finally { spark.conf.unset("fs.file.impl"); spark.conf.unset("fs.file.impl.disable.cache") }
  }

  test("localFileBinding: local masters get the binding; cluster masters and a preset value do not") {
    Seq("local", "local[4]", "local[*]", "local[2,3]").foreach(m =>
      assert(GraftSession.localFileBinding(m, None) == Some(GraftSession.FileImplKey -> Binding), m))
    Seq("spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]").foreach(m =>
      assert(GraftSession.localFileBinding(m, None).isEmpty, m))
    assert(GraftSession.localFileBinding("local[4]", Some("org.example.UserFs")).isEmpty,
      "a value the user or spark-submit set wins")
  }

  test("a local-master builder session resolves file: to the binding") {
    assert(spark.conf.get(GraftSession.FileImplKey) == Binding)
    val fs = FileSystem.get(new URI("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.getClass == classOf[InProcessLocalFileSystem])
  }

  test("Resume write + manifest marks: same files and POSIX modes as Hadoop's LocalFileSystem, no chmod forked") {
    val t = Transcripts.synthetic(spark, 300, 15)
    val base = Files.createTempDirectory("localfs_parity_")
    def written(impl: Class[_]): (List[(String, String)], Int) = {
      val out = base.resolve(impl.getName)
      val forks = withFileImpl(impl)(chmodsDuring {
        val s = Resume.writeWithResume(t, out.toString, nBuckets = 6)
        assert(s.writtenBuckets.size == 6)
      })
      (tree(out), forks)
    }
    val (bound, boundForks) = written(classOf[InProcessLocalFileSystem])
    assert(bound.count(_._1.contains("bucket=")) > 6, "several buckets were written")
    assert(bound.exists(_._1.endsWith(".parquet.crc")) && bound.exists(_._1.startsWith("_graft_manifest/")))
    assert(boundForks == 0)
    // Hadoop's LocalFileSystem, and the class Hadoop's service loader picks
    // for file: without a binding (on a classpath with hive-exec, Hive's
    // ProxyLocalFileSystem)
    Seq(classOf[LocalFileSystem], FileSystem.getFileSystemClass("file", null)).distinct.foreach { stockImpl =>
      val (stock, stockForks) = written(stockImpl)
      assert(bound == stock, stockImpl.getName)
      if (InProcessLocalFileSystem.inProcess)
        assert(stockForks > 0, "the recording sees the chmod processes Hadoop forks without libhadoop")
    }
  }

  test("a directory made under a setgid parent keeps setgid, as with Hadoop's chmod") {
    val parent = Files.createTempDirectory("localfs_setgid_")
    assert(new ProcessBuilder("chmod", "g+s", parent.toString).start().waitFor() == 0)
    val conf = spark.sessionState.newHadoopConf()
    Seq(new LocalFileSystem, new InProcessLocalFileSystem).foreach { fs =>
      fs.initialize(new URI("file:///"), conf)
      assert(fs.mkdirs(new org.apache.hadoop.fs.Path(parent.resolve(fs.getClass.getSimpleName).toUri)))
    }
    val modes = tree(parent).filter(_._1.nonEmpty).map(_._2)
    assert(modes.size == 2 && modes.distinct.size == 1 && modes.head.startsWith("2"), modes)
  }

  test("the session's own binding forks no chmod across a resume write and a QueryMain run") {
    val base = Files.createTempDirectory("localfs_forks_").toString
    val t = Transcripts.synthetic(spark, 300, 15)
    var matched = 0L
    val forks = chmodsDuring {
      ExtractPipeline.writeGraph(ExtractPipeline.extract(t), s"$base/graph", predBuckets = 4)
      Resume.writeWithResume(t, s"$base/resume", nBuckets = 6)
      matched = graft.QueryMain.run(Array(
        "--graph", s"$base/graph", "--output", s"$base/bindings",
        "--pattern", "?p <http://schema.org/name> ?name"), spark)
    }
    assert(matched > 0 && spark.read.parquet(s"$base/bindings").count() == matched)
    assert(forks == 0)
  }
}
